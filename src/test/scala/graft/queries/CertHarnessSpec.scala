package graft.queries

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.SparkSpec
import graft.queries.StreamingQueries._

/** The continuous-cert harness every memory-sink certification runs
  * through ([[StreamingQueries.certTable]]): one micro-batch per staged
  * file, the session's shuffle partitions restored whatever the plan
  * does, failures propagated, and a fresh sink name + checkpoint per call. */
class CertHarnessSpec extends SparkSpec {

  /** Records the streaming events of every query in the session. */
  private class Recorder extends StreamingQueryListener {
    val started = new ConcurrentLinkedQueue[QueryStartedEvent]
    val progress = new ConcurrentLinkedQueue[QueryProgressEvent]
    val terminated = new ConcurrentLinkedQueue[UUID]
    override def onQueryStarted(e: QueryStartedEvent): Unit = started.add(e)
    override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      terminated.add(e.runId)

    /** Start events of the runs named `tag_*`, once all of them have
      * terminated (progress and termination arrive asynchronously). */
    def runs(tag: String): Seq[QueryStartedEvent] = {
      val rs = started.asScala.filter(_.name.startsWith(tag + "_")).toSeq
      val deadline = System.currentTimeMillis() + 30000L
      while (!rs.forall(r => terminated.contains(r.runId)) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(rs.forall(r => terminated.contains(r.runId)), s"$tag runs never ended")
      rs
    }

    def batchIds(runId: UUID): Seq[Long] =
      progress.asScala.filter(_.progress.runId == runId)
        .map(_.progress.batchId).toSeq.sorted
  }

  private def withRecorder[T](f: Recorder => T): T = {
    val rec = new Recorder
    spark.streams.addListener(rec)
    try f(rec) finally spark.streams.removeListener(rec)
  }

  /** A staged 3-file replay of ids 0..29, in id order. */
  private lazy val src: (String, org.apache.spark.sql.types.StructType) = {
    val df = spark.range(30).toDF("id")
    val dir = stageOrderedBy(df, "certHarnessSpec", "ids3", 3, Seq(col("id")))
    assert(partFiles(dir).size === 3)
    dir -> df.schema
  }

  private def ids(t: DataFrame): Seq[Long] =
    t.collect().map(_.getLong(0)).toSeq.sorted

  test("certTable runs one micro-batch per staged file and returns the sink") {
    withRecorder { rec =>
      val out = certTable(spark, "spec_batches", Seq(src)) {
        case Seq(st) => st.select(col("id"))
      }
      assert(ids(out) === (0L until 30L))
      val Seq(run) = rec.runs("spec_batches")
      assert(rec.batchIds(run.runId) === Seq(0L, 1L, 2L))
    }
  }

  test("certTable restores shuffle partitions and propagates a failing plan") {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "3") // a value no harness sets
    try {
      var during = ""
      val built = intercept[IllegalStateException] {
        certTable(spark, "spec_throw", Seq(src)) { _ =>
          during = spark.conf.get(key)
          throw new IllegalStateException("plan failed")
        }
      }
      assert(built.getMessage === "plan failed")
      assert(during === "8")
      assert(spark.conf.get(key) === "3")

      // a failure inside a running micro-batch surfaces too, not a timing
      val boom = udf((id: Long) => { require(id < 0, "row failed"); id })
      intercept[StreamingQueryException] {
        certTable(spark, "spec_batch_throw", Seq(src)) {
          case Seq(st) => st.select(boom(col("id")).as("id"))
        }
      }
      assert(spark.conf.get(key) === "3")
    } finally spark.conf.set(key, saved)
  }

  test("two certTable calls with one tag use distinct sinks and checkpoints") {
    withRecorder { rec =>
      val a = certTable(spark, "spec_same", Seq(src)) { case Seq(st) => st }
      val b = certTable(spark, "spec_same", Seq(src)) { case Seq(st) => st }
      // a shared checkpoint would leave the second run nothing to read
      assert(ids(a) === (0L until 30L))
      assert(ids(b) === (0L until 30L))
      val runs = rec.runs("spec_same")
      assert(runs.size === 2)
      assert(runs.map(_.name).distinct.size === 2)
      // the query id is stored in (and restored from) the checkpoint
      assert(runs.map(_.id).distinct.size === 2)
    }
  }
}
