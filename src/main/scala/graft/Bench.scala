package graft
import java.io.IOException

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** Benchmark main. Emits ONE JSON line with per-query seconds.
  *
  * Trustworthiness measures (round-4, per judge verdict): bench numbers on a
  * shared host are load-sensitive ±3-5x, so the artifact carries its own
  * evidence — `/proc/loadavg` snapshots before and after the run — and the
  * reported per-query time is the MINIMUM over `SPARK_GRAFT_BENCH_REPS`
  * repetitions (default 3). The minimum is the right estimator for "what the
  * engine costs when the host is idle": external load only ever adds time,
  * never subtracts it. If the 1-minute load exceeds 1.5 at start the JSON
  * carries an in-band "warning" field so a reader can discount the numbers.
  */
object Bench {
  private def loadAvg(): Array[Double] =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+").take(3).map(_.toDouble)
      finally src.close()
    } catch { case _: IOException | _: NumberFormatException => Array(-1.0, -1.0, -1.0) }

  /** Cumulative (steal, total) jiffies from /proc/stat's aggregate cpu
    * line. On a virtualized host, neighbor contention shows up as STEAL
    * time, not in-VM load: a run can be uniformly 2-3× inflated while
    * loadavg reads idle (observed round 5). The delta over the run is the
    * only in-band evidence that distinguishes "engine got slower" from
    * "hypervisor throttled the vCPUs". */
  private def cpuStealTotal(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      } finally src.close()
    } catch {
      case _: IOException | _: NumberFormatException | _: NoSuchElementException => (-1L, -1L)
    }

  /** Each query's minimum seconds over `reps` repetitions (streaming
    * names run once, see `main`), the seconds it spent staging, the wall
    * seconds of the rep(s) that paid that staging, and the names that
    * threw. Staging is memoized, so only the first rep normally pays it,
    * and the minimum over reps then leaves it out: `stagedRepSecs` is the
    * time that does include it. A query that throws is failed: it is
    * reported on stderr, never timed, and not run again on a later rep. */
  private[graft] final case class Timings(secs: Seq[(String, Double)],
                                          stageSecs: Map[String, Double],
                                          stagedRepSecs: Map[String, Double],
                                          failed: Seq[String])

  private[graft] def timeQueries(spark: SparkSession, sfDir: String,
                                 names: Seq[(String, (SparkSession, String) => DataFrame)],
                                 streaming: String => Boolean, reps: Int): Timings = {
    // per-query staging attribution (rep 1 pays each memoized staged
    // corpus exactly once; see graft.io.StageClock): reported beside the
    // per-query minima, with the wall time of the rep that paid it
    val stageSecs = scala.collection.mutable.Map.empty[String, Double]
    val stagedRepSecs = scala.collection.mutable.Map.empty[String, Double]
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def timeAll(rep: Int): Map[String, Double] = names.flatMap { case (name, fn) =>
      if ((rep > 1 && streaming(name)) || failed(name)) None
      else {
        val st0 = graft.io.StageClock.totalSecs
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            failed += name
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        val sdt = graft.io.StageClock.totalSecs - st0
        if (ok && sdt > 0.001) {
          stageSecs(name) = stageSecs.getOrElse(name, 0.0) + sdt
          stagedRepSecs(name) = stagedRepSecs.getOrElse(name, 0.0) + dt
        }
        // drop this query's localCheckpoint blocks before the next one:
        // ~80 queries checkpoint fan-out frames, and 250 queries × reps
        // would otherwise accumulate hundreds of materialized RDDs in the
        // block manager — storage eviction + GC pressure that inflates
        // the later (state-store-heavy streaming) queries. Cleanup time
        // is deliberately OUTSIDE the measured window.
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        if (ok) Some(name -> dt) else None
      }
    }.toMap
    // rep 1 pays one-time costs (parquet footer reads, broadcast warmup,
    // codegen cache); minima over reps report steady-state per-query cost.
    val runs = (1 to reps).map(timeAll)
    val secs = names.collect { case (name, _) if !failed(name) =>
      name -> runs.flatMap(_.get(name)).min }
    Timings(secs, stageSecs.toMap -- failed, stagedRepSecs.toMap -- failed, failed.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val loadBefore = loadAvg()
    val (steal0, jiffies0) = cpuStealTotal()
    val spark = Session.local(cpus)
    // harness warmup (scheduler, codegen, shuffle machinery) so the first
    // timed query doesn't absorb JVM startup; touches no benchmark data
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(100).groupBy(expr("id % 7")).count().collect()
    // sorted: deterministic execution order, so per-query times are
    // comparable round over round.
    // time the materialized plan (toRdd.count), not Dataset.count(): count()
    // lets Catalyst prune every unreferenced projection, so a select-heavy
    // query would be timed as a bare scan. toRdd evaluates the declared
    // output columns exactly as a sink would consume them.
    // optional comma-separated name-prefix filter (local iteration only;
    // the driver invokes with no args and times the full suite)
    val only: Option[Seq[String]] = args.headOption.map(_.split(",").toSeq)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
    // streaming certification queries stage fresh temp data and run a full
    // multi-micro-batch streaming job per INVOCATION — their cost is
    // staging I/O, not plan execution, so min-of-N reps would re-pay the
    // staging N times for no extra signal. They run once (rep 1 only).
    val streamingNames =
      queries.StreamingQueries.defs.keySet ++ queries.StreamingCertQueries.defs.keySet ++
        queries.RecoveryCertQueries.defs.keySet
    val Timings(results, stageSecs, stagedRepSecs, failed) =
      timeQueries(spark, sfDir, names, streamingNames, reps)
    val loadAfter = loadAvg()
    val (steal1, jiffies1) = cpuStealTotal()
    val stealPct =
      if (steal0 >= 0 && jiffies1 > jiffies0)
        100.0 * (steal1 - steal0) / (jiffies1 - jiffies0)
      else -1.0
    // batch queries and streaming certifications report in SEPARATE maps:
    // the 12 stream certs each stage temp data + run a real multi-batch
    // streaming job (cost is staging I/O, 1 rep), so folding them into the
    // batch map would pollute the batch trend line round over round.
    val (streamResults, batchResults) =
      results.partition { case (k, _) => streamingNames(k) }
    def jmap(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = jmap(batchResults)
    val certs = jmap(streamResults)
    val batchTotal = batchResults.map(_._2).sum
    val streamTotal = streamResults.map(_._2).sum
    val total = batchTotal + streamTotal
    val warn =
      if (loadBefore(0) > 1.5)
        s""","warning":"host 1-min load ${loadBefore(0)} > 1.5 at start; numbers may be inflated by external load""""
      else if (stealPct > 2.0)
        s""","warning":"hypervisor steal time ${f"$stealPct%.1f"}% over the run; numbers may be inflated by neighbor load""""
      else ""
    val loads = s""""load_before":[${loadBefore.mkString(",")}],"load_after":[${loadAfter.mkString(",")}],"steal_pct":${f"$stealPct%.2f"}"""
    // stage_secs: each query's first-consumer staging I/O. The query's
    // reported time is its minimum over reps, which normally excludes it
    // (only rep 1 stages); staged_rep_secs is the wall time of the rep
    // that paid it
    val stages = jmap(stageSecs.toSeq.sortBy(_._1))
    val stagedReps = jmap(stagedRepSecs.toSeq.sortBy(_._1))
    // queries that threw: listed here, left out of every map and total
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val stageTotal = stageSecs.values.sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"stream_certs":$certs,"failed":$failedJson,"batch_total":$batchTotal,"stream_total":$streamTotal,"stage_secs":$stages,"staged_rep_secs":$stagedReps,"stage_total":$stageTotal,"sf":"$sfDir","reps":$reps,"stream_reps":1,$loads$warn}"""
    println(line)
    // also land the line in a file: the driver reads the process tail, and
    // a ~20 KB one-line JSON has already outgrown one round's tail capture
    // (round-14's BENCH JSON was truncated mid-line and unparseable)
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get("bench_last.json"),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: IOException => () }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
