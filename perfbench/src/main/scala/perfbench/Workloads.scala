package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.{Random, Using}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.pipeline.BooksEtl

/** One timed call into the engine: its seconds, split into named parts
  * (`build`/`exec` for a query or cert, the three ETL stages for a run),
  * and the Catalyst planning time of the plan the timed action ran. */
final case class Sample(op: String, cls: String, secs: Double,
                        parts: Map[String, Double], catalystMs: Double)

/** A workload: a fixed set of ops, run once per pass in a seeded order.
  * `run` times one op and, when asked, checks its outputs after the
  * timed window has closed; it throws if the engine fails. */
trait Workload {
  def ops: Seq[String]
  def prepare(): Unit = ()
  /** Runs `op`; returns its sample and, if `check`, any output mismatch. */
  def run(op: String, check: Boolean): (Sample, Option[String])
  /** Per-layer metrics from the traced warm passes (counts per pass). */
  def layers(t: Tracer, samples: Seq[Sample], passes: Int, cores: Int): Map[String, Double]

  /** Pass `pass` takes the pass-th shuffle of one seeded stream; seeds
    * `seed * k + pass` would give nearly the same order on every pass. */
  def order(seed: Long, pass: Int): Seq[String] = {
    val r = new Random(seed)
    (0 to pass).map(_ => r.shuffle(ops)).last
  }
}

object Workloads {
  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** Task run time over the wall time the cores were available. */
  def coreUtil(runMs: Long, wallS: Double, cores: Int): Double =
    if (wallS <= 0) 0.0 else runMs / 1000.0 / (wallS * cores)

  /** The job, stage, task, shuffle and memory counters of `w`, per pass. */
  def counters(prefix: String, w: Tracer#Work, wallS: Double, passes: Int,
               cores: Int): Seq[(String, Double)] = Seq(
    s"$prefix.jobs" -> w.jobs.toDouble / passes,
    s"$prefix.stages" -> w.stages.toDouble / passes,
    s"$prefix.tasks" -> w.tasks.toDouble / passes,
    s"$prefix.tasks_per_stage" -> (if (w.stages == 0) 0.0 else w.tasks.toDouble / w.stages),
    s"$prefix.core_util" -> coreUtil(w.runMs, wallS, cores),
    s"$prefix.shuffle_read_bytes" -> w.shuffleRead.toDouble / passes,
    s"$prefix.shuffle_write_bytes" -> w.shuffleWrite.toDouble / passes,
    s"$prefix.spill_bytes" -> w.spill.toDouble / passes,
    s"$prefix.peak_exec_mem_bytes" -> w.peakExecMem.toDouble)

  /** Drops the blocks a query cached or checkpointed, outside the timed
    * window, as `graft.Bench` does between queries. */
  def release(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Using.resource(Files.walk(p))(_.iterator().asScala.toList).reverse
        .foreach(q => Files.deleteIfExists(q))
}

/** Registry queries or certs from `SparkEntry.queries`, each timed as
  * `graft.Bench` times it: the DataFrame's construction (`build`, which
  * includes any eager jobs and, for a cert, the whole streaming run) and
  * then `queryExecution.toRdd.count()` (`exec`). Outputs are checked
  * against row counts and content hashes derived from the DuckDB oracle. */
final class Registry(spark: SparkSession, tracer: Tracer, dataDir: String,
                     classes: Seq[(String, String)], expected: Map[String, Canon.Digest])
    extends Workload {

  private val clsOf = classes.toMap
  val ops: Seq[String] = classes.map(_._1)

  def run(op: String, check: Boolean): (Sample, Option[String]) = {
    val fn = SparkEntry.queries(op)
    val t0 = System.nanoTime()
    val df = tracer.tagged(op, "build")(fn(spark, dataDir))
    val t1 = System.nanoTime()
    tracer.tagged(op, "exec")(df.queryExecution.toRdd.count())
    val t2 = System.nanoTime()
    val catalyst = df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble
    val mismatch =
      if (!check) None
      else {
        val got = tracer.tagged(op, "check")(Canon.digest(df))
        expected.get(op) match {
          case Some(want) if want == got => None
          case Some(want) => Some(s"$op: got $got, want $want")
          case None => Some(s"$op: no expected digest")
        }
      }
    Workloads.release(spark)
    val s = Sample(op, clsOf(op), Workloads.secs(t0, t2),
      Map("build" -> Workloads.secs(t0, t1), "exec" -> Workloads.secs(t1, t2)), catalyst)
    (s, mismatch)
  }

  def layers(t: Tracer, samples: Seq[Sample], passes: Int, cores: Int): Map[String, Double] = {
    val out = Map.newBuilder[String, Double]
    val perPass = 1.0 / passes
    val groups = classes.map(_._2).distinct.map(c => c -> samples.filter(_.cls == c)) :+
      ("all" -> samples)
    groups.foreach { case (c, ss) =>
      val ops = ss.map(_.op).toSet
      val all = t.sum(ops, ph => ph == "build" || ph == "exec")
      val build = t.sum(ops, _ == "build")
      val wall = ss.map(_.secs).sum
      val prefix = if (c == "all") "spark" else s"queries.$c"
      if (c != "all") {
        out += s"$prefix.build_s" -> ss.map(_.parts("build")).sum * perPass
        out += s"$prefix.exec_s" -> ss.map(_.parts("exec")).sum * perPass
        out += s"$prefix.build_jobs" -> build.jobs * perPass
        out += s"$prefix.catalyst_ms" -> ss.map(_.catalystMs).sum * perPass
      } else out += "catalyst.ms" -> ss.map(_.catalystMs).sum * perPass
      out ++= Workloads.counters(prefix, all, wall, passes, cores)
    }
    val certs = samples.filter(_.cls == "stream")
    if (certs.nonEmpty) out ++= streaming(t, certs, passes)
    out.result()
  }

  /** Per-cert and summed micro-batch counters from `StreamingQueryProgress`. */
  private def streaming(t: Tracer, certs: Seq[Sample], passes: Int): Map[String, Double] = {
    val perPass = 1.0 / passes
    val names = certs.map(_.op).distinct
    val st = names.map(n => n -> t.stream(n)).toMap
    def total(f: t.Stream => Double) = names.map(n => f(st(n))).sum
    def dur(k: String) = total(_.durations(k).toDouble) * perPass
    def harness(n: String) =
      certs.filter(_.op == n).map(_.secs).sum * perPass - st(n).triggerMs.sum / 1000 * perPass
    val triggers = names.flatMap(n => st(n).triggerMs)
    val perCert = names.flatMap { n =>
      val short = n.takeWhile(_ != '_')
      Seq(s"streaming.$short.batches" -> st(n).batches * perPass,
        s"streaming.$short.state_rows" -> st(n).stateRows.toDouble,
        s"streaming.$short.addBatch_ms" -> st(n).durations("addBatch") * perPass,
        s"streaming.$short.harness_s" -> harness(n))
    }
    (perCert ++ Seq(
      "streaming.batches" -> total(_.batches.toDouble) * perPass,
      "streaming.addBatch_ms" -> dur("addBatch"),
      "streaming.walCommit_ms" -> dur("walCommit"),
      "streaming.commitOffsets_ms" -> dur("commitOffsets"),
      "streaming.queryPlanning_ms" -> dur("queryPlanning"),
      "streaming.getBatch_ms" -> dur("getBatch"),
      "streaming.state_rows" -> total(_.stateRows.toDouble),
      "streaming.state_mem_bytes" -> total(_.stateMem.toDouble),
      "streaming.rows_dropped_by_watermark" -> total(_.dropped.toDouble) * perPass,
      "streaming.harness_s" -> names.map(harness).sum,
      "streaming.microbatch_p50_ms" -> (if (triggers.isEmpty) 0.0 else Stats.median(triggers)),
      "streaming.microbatch_tail_ms" -> (if (triggers.isEmpty) 0.0 else Stats.tail(triggers))
    )).toMap
  }
}

/** The reference pipeline, end to end: `BooksEtl.extract` with the raw CSV
  * sink, `BooksEtl.transform` with its six CSV sinks, `BooksEtl.summarize`.
  * One op is one full run over the seeded catalogue. */
final class Etl(spark: SparkSession, tracer: Tracer, workDir: String, seed: Long, pages: Int)
    extends Workload {

  val ops: Seq[String] = Seq("etl")
  private val catalogue = s"$workDir/catalogue"
  private val outDir = Paths.get(s"$workDir/etl_out")
  private var truth: Books.Truth = _
  private var csvBytes = 0L
  private var fetches = 0L

  override def prepare(): Unit = {
    Workloads.deleteTree(Paths.get(catalogue))
    truth = Books.generate(seed, pages, catalogue)
  }

  private val sinks = Seq("books_raw", "books_cleaned", "dim_book", "dim_category",
    "dim_price_tier", "dim_stock_tier", "fact_book_inventory")

  def run(op: String, check: Boolean): (Sample, Option[String]) = {
    Workloads.deleteTree(outDir)
    val out = outDir.toString
    val fetch = Books.fetcher(catalogue)
    Books.fetches.set(0L)
    val t0 = System.nanoTime()
    val raw = tracer.tagged("extract", "exec")(
      BooksEtl.extract(spark, pages, fetch, Some(s"$out/books_raw")))
    val t1 = System.nanoTime()
    val star = tracer.tagged("transform", "exec")(BooksEtl.transform(raw, Some(out)))
    val t2 = System.nanoTime()
    val summary = tracer.tagged("summarize", "exec")(BooksEtl.summarize(star))
    val t3 = System.nanoTime()
    fetches = Books.fetches.get()
    val rows = sinks.map(s => s -> csvRows(s)).toMap
    csvBytes = sinks.map(s => csvFiles(s).map(Files.size).sum).sum
    val mismatch = if (!check) None else {
      val want = truth
      val inv = want.inventoryValue.toDouble
      val avg = want.ratingSum.toDouble / want.rows
      def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
      val wantRows = Map("books_raw" -> want.rows, "books_cleaned" -> want.rows,
        "dim_book" -> want.distinctBooks, "dim_category" -> want.categories,
        "dim_price_tier" -> 3L, "dim_stock_tier" -> want.stockBins,
        "fact_book_inventory" -> want.rows)
      val bad = Seq(
        "total_books" -> (summary.totalBooks == want.rows),
        "total_categories" -> (summary.totalCategories == want.categories),
        "total_inventory_value" -> close(summary.totalInventoryValue, inv),
        "avg_rating" -> close(summary.avgRating, avg),
        "books_in_stock" -> (summary.booksInStock == want.inStock)
      ).collect { case (k, false) => k } ++
        sinks.filter(s => rows(s) != wantRows(s)).map(s => s"$s rows ${rows(s)} != ${wantRows(s)}")
      if (bad.isEmpty) None else Some(s"etl: $summary vs $want: ${bad.mkString(", ")}")
    }
    Workloads.release(spark)
    Workloads.deleteTree(outDir)
    val s = Sample(op, "etl", Workloads.secs(t0, t3), Map(
      "extract" -> Workloads.secs(t0, t1), "transform" -> Workloads.secs(t1, t2),
      "summarize" -> Workloads.secs(t2, t3)), 0.0)
    (s, mismatch)
  }

  private def csvFiles(sink: String): Seq[Path] =
    Using.resource(Files.list(outDir.resolve(sink)))(
      _.iterator().asScala.filter(_.getFileName.toString.endsWith(".csv")).toList)

  private def csvRows(sink: String): Long =
    csvFiles(sink).map(p => Using.resource(Files.lines(p))(_.count()) - 1).sum

  def layers(t: Tracer, samples: Seq[Sample], passes: Int, cores: Int): Map[String, Double] = {
    val perPass = 1.0 / passes
    def part(k: String) = samples.map(_.parts(k)).sum * perPass
    def stage(op: String) = t.sum(_ == op, _ => true)
    val all = t.sum(Set("extract", "transform", "summarize"), _ => true)
    (Seq(
      "extract.s" -> part("extract"),
      "extract.tasks" -> stage("extract").tasks * perPass,
      "extract.fetches_per_book" -> fetches.toDouble / truth.rows,
      "transform.s" -> part("transform"),
      "transform.jobs" -> stage("transform").jobs * perPass,
      "transform.core_util" ->
        Workloads.coreUtil(stage("transform").runMs, part("transform") * passes, cores),
      "summarize.s" -> part("summarize"),
      "summarize.jobs" -> stage("summarize").jobs * perPass,
      "io.csv_bytes_written" -> csvBytes.toDouble) ++
      Workloads.counters("spark", all, samples.map(_.secs).sum, passes, cores)).toMap
  }
}
