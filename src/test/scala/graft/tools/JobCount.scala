package graft.tools

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block launches. The block runs under a local
  * property that a `SparkListener` looks for on every job start; a marker
  * job run after the block bounds the count, because listener events
  * arrive in order: once the marker is seen, so are the block's jobs.
  * Jobs from other threads (other suites, the context cleaner) do not
  * carry the property and are not counted. */
object JobCount {
  private val key = "graft.jobcount"

  def during[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    val jobs = new AtomicInteger()
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some(`tag`) => jobs.incrementAndGet()
          case Some(v) if v == s"$tag:marker" => marker.countDown()
          case _ =>
        }
    }
    val outer = sc.getLocalProperty(key)
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      val out = body
      sc.setLocalProperty(key, s"$tag:marker")
      spark.range(1).count()
      require(marker.await(30, TimeUnit.SECONDS), "marker job never reached the listener")
      (out, jobs.get)
    } finally {
      sc.setLocalProperty(key, outer)
      sc.removeSparkListener(listener)
    }
  }
}
