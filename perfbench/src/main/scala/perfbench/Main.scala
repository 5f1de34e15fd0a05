package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM. `run.py` builds it and starts it; see BENCHMARK.md.
  *
  *   --workload etl_books|query_mix   what to run
  *   --seed N        catalogue (etl_books) and per-pass op order
  *   --warmup N      unmeasured warm passes after the cold one
  *   --passes N      measured warm passes after those
  *   --trace 0|1     1: attach the listeners and report per-layer metrics
  *   --work DIR      the only directory written (scratch, spark, outputs)
  *   --data DIR      the registry tables (query_mix)
  *   --expected F    expected digests of the registry results
  *   --pages N       catalogue listing pages (etl_books)
  *   --setup-only    start the session, report setup_s, stop
  *   --dump-oracles F  also write the oracle SQL of every op to F
  *
  * Prints one JSON line: setup, memory, host state, failures and either
  * the end-to-end or the per-layer metrics.
  */
object Main {

  /** The query mix: one registry entry per cost class. The stream entry is
    * a certification, which runs a real multi-micro-batch stream per call. */
  val Queries: Seq[(String, String)] = Seq(
    "q16_join_multi" -> "light",
    "q143_pagerank_dangling" -> "construction",
    "q142_simhash_multiprobe" -> "cpu",
    "q239_stream_cms" -> "stream")

  def main(argv: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    System.err.println(f"[perfbench] main at ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.3f s")
    val args = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = Paths.get(args("work")).toAbsolutePath
    Files.createDirectories(work.resolve("tmp"))
    redirectScratch(work.resolve("scratch"))
    val cores = Runtime.getRuntime.availableProcessors
    val host0 = Host.snapshot()
    val spark = session(cores, work.toString)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    args.get("dump-oracles").foreach { f =>
      val sql = graft.SparkEntry.oracleSql
      Files.writeString(Paths.get(f), Json.obj(Queries.map { case (n, _) => n -> sql(n) }).s)
    }
    if (argv.contains("--setup-only")) {
      println(Json.obj(Seq("setup_s" -> setupS)).s)
      spark.stop()
      return
    }
    val trace = args.getOrElse("trace", "0") == "1"
    val seed = args("seed").toLong
    val warmup = args.getOrElse("warmup", "0").toInt
    val passes = args("passes").toInt
    val tracer = new Tracer(spark)
    val w: Workload = args("workload") match {
      case "etl_books" => new Etl(spark, tracer, work.toString, seed, args("pages").toInt)
      case "query_mix" =>
        new Registry(spark, tracer, args("data"), Queries, Expected.load(args("expected")))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.prepare()

    val failed = mutable.ArrayBuffer.empty[String]
    val mismatches = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    // A pass is the sum of its ops' timed windows; checks and cleanup fall
    // outside them. A failed op is listed and timed as nothing.
    def pass(p: Int, check: Boolean): Seq[Sample] = w.order(seed, p).flatMap { op =>
      attempted += 1
      try {
        val (s, bad) = w.run(op, check)
        mismatches ++= bad
        System.err.println(f"[perfbench] pass $p%d ${s.op}%-24s ${s.secs}%.3f s " +
          s.parts.toSeq.sorted.map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
        if (trace) tracer.drain()
        Some(s)
      } catch {
        case e: Throwable =>
          failed += op
          System.err.println(s"[perfbench] $op failed: $e")
          Workloads.release(spark)
          None
      }
    }
    // The JIT keeps speeding the first warm passes up, so the harness runs
    // `warmup` passes untimed before the measured ones. Traced runs
    // alternate listener-off and listener-on measured passes (odd and
    // even), so the tracing overhead is measured in the same process;
    // counters come from the traced passes only.
    val st0 = graft.io.StageClock.totalSecs
    val cold = pass(0, check = true)
    val stageS = graft.io.StageClock.totalSecs - st0
    (1 to warmup).foreach(p => pass(p, check = false))
    val warm = (1 to passes).map { p =>
      val traced = trace && p % 2 == 0
      if (traced) tracer.attach()
      val ss = pass(warmup + p, check = p == passes)
      if (traced) tracer.detach()
      (traced, ss)
    }
    val host1 = Host.snapshot()

    def passSecs(ps: Seq[(Boolean, Seq[Sample])]) = ps.map(_._2.map(_.secs).sum)
    val metrics: Seq[(String, Any)] =
      if (!trace) {
        Seq("peak_rss_mb" -> Host.peakRssMb(), "pass_s" -> Stats.median(passSecs(warm)))
      } else {
        val tracedPasses = warm.filter(_._1)
        val tracedS = Stats.median(passSecs(tracedPasses))
        val plainS = Stats.median(passSecs(warm.filterNot(_._1)))
        val layers = w.layers(tracer, tracedPasses.flatMap(_._2), tracedPasses.size, cores) ++
          Map("io.stage_s" -> stageS, "cold.pass_s" -> cold.map(_.secs).sum, "trace.pass_s" -> tracedS,
            "trace.overhead_pct" -> 100.0 * (tracedS - plainS) / plainS)
        Layers.all.map { case (n, unit) =>
          n -> Json.obj(Seq("value" -> layers.getOrElse(n, 0.0), "unit" -> unit)) }
      }
    val out = Seq(
      "workload" -> args("workload"), "seed" -> seed, "setup_s" -> setupS, "trace" -> trace, "cores" -> cores,
      "warmup" -> warmup, "passes" -> passes, "attempted" -> attempted, "failed" -> failed.toSeq,
      "mismatches" -> mismatches.toSeq,
      "host" -> Json.obj(Seq("before" -> host0, "after" -> host1)),
      "metrics" -> Json.obj(metrics))
    println(Json.obj(out).s)
    spark.stop()
  }

  /** The pinned session: nothing depends on the forked-JVM properties of
    * the repository's own build. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Points `graft.io.Scratch` at a directory of the benchmark's own, so
    * that staging and checkpoints stay in the work directory instead of
    * `/dev/shm`. The engine's lazy root is set before its first use. */
  private def redirectScratch(dir: java.nio.file.Path): Unit = {
    Workloads.deleteTree(dir)
    Files.createDirectories(dir)
    try {
      val obj = graft.io.Scratch
      val cls = obj.getClass
      val root = cls.getDeclaredField("root")
      root.setAccessible(true)
      root.set(obj, dir)
      val flag = cls.getDeclaredFields.find(_.getName.startsWith("bitmap$"))
        .getOrElse(throw new NoSuchFieldException("bitmap$0"))
      flag.setAccessible(true)
      flag.setBoolean(obj, true)
      require(obj.root == dir, "scratch root not redirected")
    } catch {
      case e: ReflectiveOperationException =>
        System.err.println(s"[perfbench] scratch stays at the engine default: $e")
    }
  }
}

/** Host state recorded in-band around a run: cores, load and steal. */
object Host {
  private def read(p: String): String =
    try new String(Files.readAllBytes(Paths.get(p))) catch { case _: java.io.IOException => "" }

  def snapshot(): Json.Raw = {
    val load = read("/proc/loadavg").trim.split("\\s+").take(3).mkString(",")
    val cpu = read("/proc/stat").linesIterator.toSeq.headOption.getOrElse("")
      .trim.split("\\s+").drop(1).flatMap(_.toLongOption)
    val steal = if (cpu.length > 7) cpu(7) else -1L
    Json.obj(Seq("nproc" -> Runtime.getRuntime.availableProcessors,
      "loadavg" -> Json.Raw(s"[$load]"), "steal_jiffies" -> steal, "total_jiffies" -> cpu.sum))
  }

  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}

/** Expected registry digests: one `name rows hash` line per result. */
object Expected {
  def load(path: String): Map[String, Canon.Digest] =
    scala.io.Source.fromFile(path).getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, rows, hash) = l.split("\\s+")
        n -> Canon.Digest(rows.toLong, hash)
      }.toMap
}

/** The few JSON shapes the output needs. */
object Json {
  final case class Raw(s: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): Raw =
    Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))
}
