package graft.queries

import java.util.UUID
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import jdk.jfr.consumer.RecordingStream

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.SparkSpec
import graft.queries.StreamingQueries._
import graft.streaming.Streaming

/** The two certification harnesses ([[StreamingQueries.live]] and
  * [[StreamingQueries.recovered]]): one micro-batch per staged file, the
  * session's shuffle partitions and `file:` filesystem restored whatever
  * the plan does, failures propagated, a fresh sink name + checkpoint per
  * call, checkpoint writes that start no process, and a restart that is
  * invisible in the output; plus the keyed state fold the stateful
  * operators share. */
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

  test("live runs one micro-batch per staged file and returns the sink") {
    withRecorder { rec =>
      val out = live("spec_batches")(spark, Seq(src)) {
        case Seq(st) => st.select(col("id"))
      }
      assert(ids(out) === (0L until 30L))
      val Seq(run) = rec.runs("spec_batches")
      assert(rec.batchIds(run.runId) === Seq(0L, 1L, 2L))
    }
  }

  test("live restores shuffle partitions and propagates a failing plan") {
    val key = "spark.sql.shuffle.partitions"
    val fsKey = "fs.AbstractFileSystem.file.impl"
    val saved = spark.conf.get(key)
    assert(spark.conf.getOption(fsKey) === None)
    spark.conf.set(key, "3") // a value no harness sets
    try {
      var during = ""
      var duringFs = Option.empty[String]
      val built = intercept[IllegalStateException] {
        live("spec_throw")(spark, Seq(src)) { _ =>
          during = spark.conf.get(key)
          duringFs = spark.conf.getOption(fsKey)
          throw new IllegalStateException("plan failed")
        }
      }
      assert(built.getMessage === "plan failed")
      assert(during === "8")
      assert(duringFs === Some(classOf[graft.io.LocalFs].getName))
      assert(spark.conf.get(key) === "3")
      assert(spark.conf.getOption(fsKey) === None)

      // a failure inside a running micro-batch surfaces too, not a timing
      val boom = udf((id: Long) => { require(id < 0, "row failed"); id })
      intercept[StreamingQueryException] {
        live("spec_batch_throw")(spark, Seq(src)) {
          case Seq(st) => st.select(boom(col("id")).as("id"))
        }
      }
      assert(spark.conf.get(key) === "3")
      assert(spark.conf.getOption(fsKey) === None)
    } finally spark.conf.set(key, saved)
  }

  test("two live calls with one tag use distinct sinks and checkpoints") {
    withRecorder { rec =>
      val a = live("spec_same")(spark, Seq(src)) { case Seq(st) => st }
      val b = live("spec_same")(spark, Seq(src)) { case Seq(st) => st }
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

  /** A stateful body: ids numbered per cell (id % 3) in arrival order, so
    * every row's `seq` depends on the state carried into its batch. */
  private val numbered: Seq[DataFrame] => DataFrame = {
    case Seq(st) =>
      import spark.implicits._
      Streaming.cellDirectory(st.select((col("id") % 3).as("cell"),
        col("id").as("vec_id"), col("id").as("q")).as[Streaming.CellVec]).toDF()
  }

  private def rows(t: DataFrame): Seq[(Long, Long, Long)] =
    t.select(col("cell"), col("vec_id"), col("seq")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._2)

  test("recovered returns the same rows as live for one stateful body") {
    val want = (0L until 30L).map(id => (id % 3, id, id / 3 + 1))
    assert(rows(live("spec_twin")(spark, Seq(src))(numbered)) === want)
    // the first of the three files runs before the restart
    assert(rows(recovered("spec_twin_rec", firstN = 1)(spark, Seq(src))(numbered)) === want)
  }

  test("checkpoint writes start no process under live or recovered") {
    val want = (0L until 30L).map(id => (id % 3, id, id / 3 + 1))
    val ckpts = graft.io.Scratch.root.resolve("ckpt_").toString
    val commands = new ConcurrentLinkedQueue[String]
    // a process of the test's own, started last: once the recording has
    // delivered it, it has delivered every process started before it
    val fence = "certHarnessSpec-fence-" + UUID.randomUUID()
    val fenced = new CountDownLatch(1)
    val rec = new RecordingStream()
    try {
      rec.enable("jdk.ProcessStart")
      rec.onEvent("jdk.ProcessStart", e => {
        val c = e.getString("command")
        commands.add(c)
        if (c.contains(fence)) fenced.countDown()
      })
      rec.startAsync()
      assert(rows(live("spec_noproc")(spark, Seq(src))(numbered)) === want)
      assert(rows(recovered("spec_noproc_rec", firstN = 1)(spark, Seq(src))(numbered)) === want)
      new ProcessBuilder("true", fence).start().waitFor()
      assert(fenced.await(60, TimeUnit.SECONDS), "the recording never delivered the fence")
    } finally rec.close()
    // the recovered file sink's data files still go through FileSystem;
    // its commit log goes through the checkpoint's FileContext
    val inCkpt = commands.asScala.filter(c => c.contains(ckpts) || c.contains("/_spark_metadata")).toSeq
    assert(inCkpt.isEmpty, s"${inCkpt.size} processes named a checkpoint, e.g. ${inCkpt.take(3)}")
  }

  test("recovered refuses a split that leaves one incarnation no batch") {
    for (firstN <- Seq(0, 3)) {
      val e = intercept[IllegalArgumentException] {
        recovered(s"spec_split$firstN", firstN)(spark, Seq(src))(numbered)
      }
      assert(e.getMessage.contains(s"recovery split must leave batches on both sides: $firstN of 3"))
    }
  }

  test("the state fold gives each key a fresh array init") {
    import spark.implicits._
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "1") // both keys in one task
    try {
      val obs = Seq(Streaming.CmsObs(0, 0), Streaming.CmsObs(0, 0), Streaming.CmsObs(1, 0)).toDS()
      val got = Streaming.cmsRowSquares(obs, width = 2).collect().sortBy(_.i).toSeq
      // row 0 counted two arrivals in bucket 0, row 1 one: a shared array
      // would hand row 1 row 0's counts
      assert(got === Seq(Streaming.CmsBatchOut(0, 2, 4), Streaming.CmsBatchOut(1, 1, 1)))
    } finally spark.conf.set(key, saved)
  }

  test("the state fold carries state across three micro-batches") {
    import spark.implicits._
    val out = live("spec_fold")(spark, Seq(src)) {
      case Seq(st) => Streaming.cmsRowSquares(
        st.select(lit(0L).as("i"), (col("id") % 2).as("b")).as[Streaming.CmsObs], 2).toDF()
    }
    // each batch adds 5 arrivals to each of the two counters
    assert(out.as[Streaming.CmsBatchOut].collect().sortBy(_.seen).toSeq === Seq(
      Streaming.CmsBatchOut(0, 10, 50), Streaming.CmsBatchOut(0, 20, 200),
      Streaming.CmsBatchOut(0, 30, 450)))
  }
}
