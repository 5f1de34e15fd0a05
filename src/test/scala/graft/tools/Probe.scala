package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.{Session, SparkEntry}

/** Dev probe for registered queries, on the session Bench uses
  * ([[graft.Session]], `SPARK_GRAFT_CPUS` cores, default 4). For each
  * named query it prints:
  *  - `build`: seconds to construct the DataFrame (eager jobs, staging,
  *    and for a streaming cert the whole streaming run), and the number of
  *    Spark jobs it launched ([[JobCount]]); name a query twice to see
  *    its warm build, which for a batch query should print `jobs=0`
  *    (zero-job construction);
  *  - `exec`: seconds and rows of `queryExecution.toRdd.count()`, the
  *    action Bench times (it keeps every declared output column);
  *  - one `batch` line per streaming micro-batch: batch id, input rows and
  *    the `durationMs` split (`addBatch`, `walCommit`, `queryPlanning`, …);
  *  - after exec, the `explain("formatted")` plan.
  * Checkpoint blocks are dropped between queries, as Bench does.
  *
  * Usage: `sbt "Test/runMain graft.tools.Probe <name,...> <sfDir>"`.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: Probe <name,...> <sfDir>")
    val Array(nameList, sfDir) = args
    val names = nameList.split(",").toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val dur = p.durationMs.asScala.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
        println(s"batch ${p.batchId} rows=${p.numInputRows} ${dur.mkString(" ")}")
      }
    })
    try names.foreach { n =>
      val t0 = System.nanoTime()
      val ((df, t1), jobs) = JobCount.during(spark) {
        (SparkEntry.queries(n)(spark, sfDir), System.nanoTime())
      }
      println(f"$n%-28s build ${(t1 - t0) / 1e9}%8.2f s   jobs=$jobs")
      val t2 = System.nanoTime()
      val rows = df.queryExecution.toRdd.count()
      println(f"$n%-28s exec  ${(System.nanoTime() - t2) / 1e9}%8.2f s   rows=$rows")
      df.explain("formatted")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    } finally spark.stop()
  }
}
