package graft.queries

import java.nio.file.{Files => F, Path, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

import graft.io.Tables
import graft.streaming.Streaming

/** End-to-end certification of the Structured-Streaming path with the same
  * oracle rigor as the batch queries: [[q65_stream_sessions]] replays the
  * events table through a REAL streaming run — file source → watermark →
  * `flatMapGroupsWithState` sessionization with event-time timeouts →
  * memory sink — across multiple micro-batches, and its final output must
  * hash-match the batch sessionization oracle (q32's recursive
  * gap-split SQL, minus the float-accumulated total).
  *
  * This object also holds the ONE certification harness all three
  * streaming registries ([[StreamingQueries]], [[StreamingCertQueries]],
  * [[RecoveryCertQueries]]) share: replay staging ([[Stage]],
  * [[stageTimeOrdered]], [[stageOrderedBy]]), the single source-opening
  * drain-to-end run ([[drain]]), and its two sinks — the continuous
  * memory-sink [[certTable]] and the two-incarnation
  * [[recoveringTableMulti]]. A cert supplies only its staged sources and
  * its operator chain.
  *
  * This is a certification harness, not a production deployment shape: the
  * staging copy + memory sink exist so a bounded replay can be compared
  * bit-for-bit against SQL. A production stream is the same operator chain
  * with `readStream` on the live source and a real sink
  * ([[graft.streaming.Streaming.microBatch]]).
  */
object StreamingQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Session gap — must match q32's 30 minutes for oracle parity. */
  val GapMs: Long = 30 * 60 * 1000L

  /** Certification scratch management. Two properties matter for cost:
    *
    *  1. Everything here — staged replay files AND streaming checkpoints —
    *     is ephemeral by construction (the run is hash-compared against a
    *     batch oracle, then discarded), so durability is irrelevant and the
    *     scratch lives on a RAM-backed filesystem when one exists
    *     ([[graft.io.Scratch]]). State-store delta files are written +
    *     fsynced per state partition per stateful op per micro-batch; on
    *     tmpfs that I/O never touches disk.
    *  2. Staged dirs are IMMUTABLE once built (sentinels included — see
    *     [[stageTimeOrdered]]), so they are memoized per (sfDir, key) and
    *     shared across queries and reps within a session: q65 and q74
    *     replay the identical staged dir, and a Bench/Verify run stages
    *     each distinct replay corpus exactly once.
    */
  private[queries] object Stage {
    private val staged =
      scala.collection.concurrent.TrieMap.empty[(String, String), (String, Long, Long)]

    def memo(d: String, key: String)(build: String => (Long, Long)): (String, Long, Long) =
      staged.getOrElseUpdate((d, key), graft.io.StageClock.timed {
        val dir = graft.io.Scratch.dir(s"base_${key}_") + "/src"
        val (lo, hi) = build(dir)
        (dir, lo, hi)
      })

    /** Fresh checkpoint dir per streaming run (checkpoints are never
      * shareable — they encode one query's offsets + state). */
    def ckpt(): String = graft.io.Scratch.dir("ckpt_")
  }

  /** Data part-files of a parquet dir, lexicographically — one write job
    * has one job-UUID, so name order IS partition order. */
  private[queries] def partFiles(dirStr: String): Seq[Path] = {
    val it = F.list(Paths.get(dirStr)).iterator()
    val buf = scala.collection.mutable.ArrayBuffer.empty[Path]
    while (it.hasNext) {
      val p = it.next()
      val n = p.getFileName.toString
      if (n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith("."))
        buf += p
    }
    buf.sortBy(_.getFileName.toString).toSeq
  }

  /** Stamp `files` with strictly-increasing mtimes in the given order, 2 s
    * apart and a day in the past (so any later append sorts after): the
    * file source replays oldest-mtime-first, so this order IS the
    * micro-batch order. */
  private def stampReplayOrder(files: Seq[Path]): Unit = {
    val t0 = System.currentTimeMillis() - 24 * 60 * 60 * 1000L
    files.zipWithIndex.foreach { case (p, i) =>
      F.setLastModifiedTime(p, FileTime.fromMillis(t0 + i * 2000L))
    }
  }

  /** Write `df` as ONE parquet file to the side dir `side` beside
    * `srcDir`, then move it into `srcDir` as `name` (same tmpfs → a
    * rename), so a replay dir can hold files from separate write jobs. */
  private def writeOneFile(df: DataFrame, srcDir: Path, side: String,
                           name: String): Path = {
    val sideDir = srcDir.getParent.resolve(side).toString
    df.coalesce(1).write.parquet(sideDir)
    F.move(partFiles(sideDir).head, srcDir.resolve(name))
  }

  /** One sentinel event row (user_id -1, event_type "sentinel") at `tsMs`. */
  private def sentinel(s: SparkSession, tsMs: Long): DataFrame = {
    import s.implicits._
    Seq((-1L, new java.sql.Timestamp(tsMs), -1L, "sentinel", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
  }

  /** The end-of-input sentinels at `hi + offset`, one file per offset,
    * named `zz-sentinel-<j>.parquet` so they follow every data file. */
  private def sentinelFiles(s: SparkSession, srcDir: Path, hi: Long,
                            offsetsMs: Seq[Long]): Seq[Path] =
    offsetsMs.zipWithIndex.map { case (off, j) =>
      writeOneFile(sentinel(s, hi + off), srcDir, s"sen$j", s"zz-sentinel-$j.parquet")
    }

  /** Stage a batch frame into `parts` TIME-RANGE parquet files, so a
    * file-source replay (`maxFilesPerTrigger=1`, oldest file first)
    * delivers micro-batches in event-time order — no rows ever arrive
    * behind the watermark and get dropped. Returns (srcDir, loMs, hiMs).
    *
    * Mechanics: ONE `repartitionByRange(parts, ts)` write job produces the
    * slice files — range partition i is the i-th time slice and is written
    * as `part-0000i-…`, so the part-file INDEX is the time order. The file
    * source replays oldest-mtime-first, so staging then stamps explicit
    * strictly-increasing mtimes in index order ([[stampReplayOrder]]). One
    * shuffle job replaces the former parts(+dup)+1 sequential
    * filter-scan-write jobs.
    *
    * `dupEachFile` interleaves a filesystem COPY of every slice file
    * (mtime +1 s, so it replays as the NEXT micro-batch), giving a dedup
    * stream genuine cross-batch re-deliveries of every row at zero extra
    * Spark-job cost.
    *
    * `sentinelOffsetsMs` appends, AFTER the real data, one single-row file
    * per offset at `hi + offset` ([[sentinelFiles]]) — the streaming
    * equivalent of "end of input": the first sentinel batch advances the
    * watermark past every real window/session close, the next provides
    * the batch in which the flushed results are emitted (a batch computes
    * with the watermark derived from the PREVIOUS batch's data). Folding
    * sentinels into staging keeps the staged dir immutable, which is what
    * lets [[Stage]] share it across queries.
    *
    * The result is memoized per (sfDir, key): callers pass a key that
    * uniquely names the (frame, parts, dup, sentinels) combination. */
  private[queries] def stageTimeOrdered(ev: DataFrame, d: String, key: String, parts: Int,
                               dupEachFile: Boolean,
                               sentinelOffsetsMs: Seq[Long] = Nil): (String, Long, Long) =
    Stage.memo(d, key) { srcDir =>
      // bounded 1-row probe (same license as Stats.embeddingDim)
      val bounds = ev.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi")).head()
      val lo = bounds.getTimestamp(0).getTime
      val hi = bounds.getTimestamp(1).getTime
      ev.repartitionByRange(parts, col("ts")).write.mode("append").parquet(srcDir)
      val sliceFiles = partFiles(srcDir)
      stampReplayOrder(sliceFiles ++
        sentinelFiles(ev.sparkSession, Paths.get(srcDir), hi, sentinelOffsetsMs))
      if (dupEachFile) sliceFiles.foreach { p =>
        val copy = F.copy(p, p.getParent.resolve("dup-" + p.getFileName.toString))
        F.setLastModifiedTime(copy,
          FileTime.fromMillis(F.getLastModifiedTime(p).toMillis + 1000L))
      }
      (lo, hi)
    }

  /** Stage a replay where rows matching `latePred` arrive in ONE file
    * AFTER every on-time slice — deliberately behind the watermark. The
    * on-time rows replay time-ordered exactly as [[stageTimeOrdered]]
    * (so none of them can be late, whatever the delay), then the late
    * file delivers event times from the whole history against a watermark
    * already advanced to `max(on-time ts) − delay`, then the sentinels
    * flush. Offsets are relative to the GLOBAL max ts and must exceed the
    * watermark delay for the flush to reach every real window.
    *
    * Spark ≥3.4 splits the watermark: the LATE-EVENT FILTER of batch N
    * uses the previous batch's watermark (data through batch N−2) while
    * EVICTION uses the current one (through N−1). A flush file carrying
    * one sentinel row at exactly `max(on-time ts)` sits between the
    * slices and the late file, so the late batch's filter watermark is
    * pinned to `max(on-time ts) − delay` — an oracle-derivable quantity —
    * instead of the sample-dependent max of the second-to-last slice. */
  private def stageLateReplay(ev: DataFrame, d: String, key: String,
                              parts: Int, latePred: org.apache.spark.sql.Column,
                              sentinelOffsetsMs: Seq[Long]): (String, Long, Long) =
    Stage.memo(d, key) { srcDir =>
      val s = ev.sparkSession
      val bounds = ev.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi")).head()
      val lo = bounds.getTimestamp(0).getTime
      val hi = bounds.getTimestamp(1).getTime
      ev.where(!latePred).repartitionByRange(parts, col("ts"))
        .write.mode("append").parquet(srcDir)
      val sliceFiles = partFiles(srcDir)
      val dir = Paths.get(srcDir)
      val hiOnTime = ev.where(!latePred).agg(max(col("ts"))).head()
        .getTimestamp(0).getTime
      val flushFile = writeOneFile(sentinel(s, hiOnTime), dir, "flush", "x-flush-0.parquet")
      val lateFile = writeOneFile(ev.where(latePred), dir, "late", "y-late-0.parquet")
      stampReplayOrder(sliceFiles ++ Seq(flushFile, lateFile) ++
        sentinelFiles(s, dir, hi, sentinelOffsetsMs))
      (lo, hi)
    }

  /** Run a streaming certification with a small state-partition count: the
    * stateful operators' partitioning is fixed at CHECKPOINT CREATION from
    * `spark.sql.shuffle.partitions`, and every micro-batch writes one
    * state-store delta file per partition per stateful op — at 32
    * partitions the bounded replay spends more time on state-store I/O
    * than on data. 8 suits the certification corpus — re-A/B'd in round 16
    * on an 11-cert subset: 4 partitions ran 1.55× slower (data-heavy certs
    * lose task parallelism), 16 ran 1.11× slower (state-store commit churn)
    * — production sizes its own. The session conf is restored afterwards
    * (queries run sequentially under both Verify and Bench). */
  private[queries] def withCertStatePartitions[T](s: SparkSession)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    s.conf.set(key, "8")
    try f finally s.conf.set(key, old)
  }

  /** The ONE streaming run every certification goes through: open each
    * staged `(dir, schema)` source as a file-source replay (one file per
    * micro-batch, oldest mtime first), build `plan` over the replays, and
    * drain it to the end of its input — `AvailableNow` from `ckpt`, under
    * [[withCertStatePartitions]] — into whatever `sink` configures. The
    * continuous ([[certTable]]) and recovery ([[recoveringTableMulti]])
    * harnesses differ only in the sink and in how many incarnations run. */
  private[queries] def drain(s: SparkSession, srcs: Seq[(String, StructType)],
                             ckpt: String)
                            (plan: Seq[DataFrame] => DataFrame)
                            (sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit =
    withCertStatePartitions(s) {
      val streams = srcs.map { case (dir, schema) =>
        s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir)
      }
      val query = sink(plan(streams).writeStream)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try query.awaitTermination() finally query.stop()
    }

  /** A continuous streaming certification: [[drain]] `plan` over the
    * staged sources from a fresh checkpoint into a memory sink named
    * `<tag>_<uuid>` (unique per call, so reps and concurrent certs never
    * share a sink), and return the sink's table. `outputMode` is the
    * memory sink's: `append` for emit-once operators, `complete` for
    * aggregates whose final state is the result. */
  private[queries] def certTable(s: SparkSession, tag: String,
                                 srcs: Seq[(String, StructType)],
                                 outputMode: String = "append")
                                (plan: Seq[DataFrame] => DataFrame): DataFrame = {
    val name = tag + "_" + java.util.UUID.randomUUID().toString.replace("-", "")
    drain(s, srcs, Stage.ckpt())(plan)(
      _.queryName(name).format("memory").outputMode(outputMode))
    s.table(name)
  }

  /** One recovery-cert SOURCE: a memoized staged dir, how many of its
    * files incarnation 1 may see, and the read schema. */
  private[queries] case class RecSrc(srcDir: String, firstN: Int, schema: StructType)

  /** Run a streaming cert as TWO query incarnations over its sources —
    * the checkpoint-RECOVERY certification the continuous certs don't
    * exercise. Each source's staged files are copied into a fresh per-
    * invocation run dir in two halves: incarnation 1 sees only the first
    * `firstN` files and runs to completion (`AvailableNow` commits every
    * processed batch), is stopped, the remaining files are copied in, and
    * a NEW query object starts from the SAME `checkpointLocation`. The
    * restart recovers the stateful operators' keyed state from the state
    * store and the file-source offset log guarantees incarnation 2 reads
    * only the unseen files — no reprocessing, no gap. Both incarnations
    * write the SAME parquet file sink (the memory sink used by the
    * continuous certs deliberately refuses checkpoint recovery — the file
    * sink's `_spark_metadata` commit log is the fault-tolerant,
    * exactly-once production shape, and reading the dir back goes through
    * that log, so only committed batches count). The certified property:
    * the recovered run's cumulative output hash-matches the batch oracle,
    * i.e. a mid-stream worker death + restart is output-invisible (the
    * analog of the reference DAG's survive-by-rerun, `airflow.py:31`,
    * done the durable-state way). A fresh run dir per invocation (rather
    * than the memoized staged dir) keeps the staged corpus immutable and
    * makes the mid-stream restart real on every run, including Bench
    * reps. A stream-stream join has TWO sources, each with its own offset
    * log in the one checkpoint.
    *
    * The copies preserve the staged mtime sequence (the file source
    * replays oldest-first), so the cross-batch arrival order is exactly
    * the continuous cert's. */
  private[queries] def recoveringTableMulti(s: SparkSession, tag: String,
                                            srcs: Seq[RecSrc])
                                           (plan: Seq[DataFrame] => DataFrame): DataFrame = {
    val prepared = srcs.zipWithIndex.map { case (src, i) =>
      val runDir = graft.io.Scratch.dir(s"${tag}_run${i}_") + "/src"
      F.createDirectories(Paths.get(runDir))
      val files = partFiles(src.srcDir)
        .sortBy(p => (F.getLastModifiedTime(p).toMillis, p.getFileName.toString))
      require(src.firstN > 0 && src.firstN < files.size,
        s"recovery split must leave batches on both sides: " +
          s"${src.firstN} of ${files.size}")
      (src, runDir, files)
    }
    def copyIn(runDir: String, ps: Seq[Path]): Unit =
      ps.foreach { p =>
        val tgt = Paths.get(runDir).resolve(p.getFileName)
        F.copy(p, tgt)
        F.setLastModifiedTime(tgt, F.getLastModifiedTime(p))
      }
    val ckpt = Stage.ckpt()
    val outDir = graft.io.Scratch.dir(s"${tag}_out_") + "/out"
    val runSrcs = prepared.map { case (src, runDir, _) => (runDir, src.schema) }
    // drain stops each incarnation before returning, so the checkpoint is
    // fully released before the next one opens it
    def incarnation(): Unit =
      drain(s, runSrcs, ckpt)(plan)(_.format("parquet").option("path", outDir))
    prepared.foreach { case (src, runDir, files) =>
      copyIn(runDir, files.take(src.firstN)) }
    incarnation()
    prepared.foreach { case (src, runDir, files) =>
      copyIn(runDir, files.drop(src.firstN)) }
    incarnation()
    // the read goes through the sink's _spark_metadata commit log — only
    // batches committed by either incarnation are visible
    s.read.parquet(outDir)
  }

  /** Single-source [[recoveringTableMulti]]. */
  private[queries] def recoveringTable(s: SparkSession, srcDir: String, firstN: Int,
                                       tag: String)
                                      (plan: DataFrame => DataFrame,
                                       schema: StructType): DataFrame =
    recoveringTableMulti(s, tag, Seq(RecSrc(srcDir, firstN, schema)))(
      streams => plan(streams.head))

  /** Streaming sessionization, oracle-checked.
    *
    * Mechanics: the events table is staged into four TIME-RANGE parquet
    * files (so micro-batches replay history in event-time order — no rows
    * ever arrive behind the watermark and get dropped) plus two "sentinel"
    * files far past the real data. The sentinels advance the watermark past
    * every real session's close (`end + gap`), which makes the event-time
    * timeouts fire and flush the per-user trailing sessions — the streaming
    * equivalent of "end of input". `maxFilesPerTrigger=1` forces one file
    * per micro-batch, so state genuinely accumulates ACROSS batches (a
    * single-batch run would never exercise the state store between
    * triggers).
    *
    * The emitted sessions are then shaped to q32's output: session_id is
    * the per-user ordinal by start time, and total_value is omitted — the
    * streaming state accumulates doubles in arrival order, which is not
    * bit-identical to the oracle's decimal-exact sum (structure, counts,
    * and timestamps are, so those are what the hash covers).
    */
  val q65_stream_sessions: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))

    // sentinels at hi+4h / hi+6h: the first puts the watermark (1 h delay)
    // at hi+3h — past every session close (end + 30 min gap) — the second
    // fires the timeouts. Identical staging key to q74, so the two certs
    // replay the SAME memoized dir.
    val (srcDir, _, _) = stageTimeOrdered(ev, d, "events4s", 4, dupEachFile = false,
      sentinelOffsetsMs = Seq(4 * 60 * 60 * 1000L, 6 * 60 * 60 * 1000L))
    val sessions = certTable(s, "q65_sessions", Seq(srcDir -> ev.schema)) {
      case Seq(st) => Streaming.sessionize(st.as[Streaming.Event], GapMs).toDF()
    }

    val w = Window.partitionBy(col("user_id")).orderBy(col("start"))
    sessions
      .where(col("user_id") >= 0) // drop the sentinel user
      .withColumn("session_id", row_number().over(w).cast("long"))
      .select(col("user_id"), col("session_id"), col("n_events"),
        date_format(col("start"), "yyyy-MM-dd HH:mm:ss").as("session_start"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** q32's oracle minus the decimal-summed total (see [[q65_stream_sessions]]). */
  val q65_sql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                   OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
      |              THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT user_id, ts,
      |         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |       count(*) AS n_events,
      |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start
      |FROM sessions GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** Streaming watermarked tumbling-window aggregation, oracle-checked
    * against q17's batch SQL: replay the events table through
    * [[Streaming.windowedEventCounts]] in four time-ordered micro-batches.
    * Append mode only emits a window once the watermark passes its end, so
    * a sentinel event 4 h past the real data finalizes every real window
    * ("end of input"); the sentinel's own window never finalizes and is
    * never emitted. The decimal(18,4)-accumulated `sum_value` is
    * order-independent, so unlike q65 the full aggregate hash-matches. */
  val q74_stream_windows: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))

    // two sentinels: the watermark a batch uses comes from the PREVIOUS
    // batch's data, so the first (hi+4h, watermark → hi+2h under the 2 h
    // delay) advances it past every real window and the second provides
    // the batch in which they flush. Same staging key as q65 → shared dir.
    val (srcDir, _, _) = stageTimeOrdered(ev, d, "events4s", 4, dupEachFile = false,
      sentinelOffsetsMs = Seq(4 * 60 * 60 * 1000L, 6 * 60 * 60 * 1000L))

    certTable(s, "q74_windows", Seq(srcDir -> ev.schema)) {
      case Seq(st) => Streaming.windowedEventCounts(st, "1 hour", "2 hours")
    }
      .where(col("event_type") =!= "sentinel")
      .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("hour"), col("event_type"))
  }

  /** q17's oracle verbatim — the streaming replay must reproduce the batch
    * hourly aggregation exactly (1-hour tumbling windows align with
    * date_trunc('hour')). */
  val q74_sql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
      |       count(*) AS n,
      |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  /** Streaming exact dedup under re-delivery, oracle-checked: every staged
    * range file is written TWICE (two separate micro-batches), so the
    * stream delivers each event two times across batch boundaries —
    * [[Streaming.dedupStream]]'s watermark-bounded state must emit each
    * `event_id` exactly once, reproducing the events table itself. The
    * watermark delay is sized to the staged slice span plus slack so the
    * re-deliveries land inside the dedup state's lifetime (the point being
    * certified); production uses a delay sized to the real re-delivery
    * window, keeping state bounded. */
  val q75_stream_dedup: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))

    val (srcDir, lo, hi) = stageTimeOrdered(ev, d, "eventsDup", 4, dupEachFile = true)
    val sliceHours = ((hi - lo) / 4) / (60 * 60 * 1000L) + 2

    certTable(s, "q75_dedup", Seq(srcDir -> ev.schema)) {
      case Seq(st) => Streaming.dedupStream(st, Seq("event_id"), s"$sliceHours hours")
    }
      .select(col("event_id"), date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  /** The doubled stream deduped on event_id must equal the events table. */
  val q75_sql: String =
    """SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
      |       user_id, event_type, value
      |FROM events ORDER BY event_id""".stripMargin

  /** Stream-stream inner join, oracle-checked: views and clicks replay as
    * TWO file-source streams (each in four time-ordered micro-batches; the
    * file sources advance in lockstep, one file per trigger each), joined
    * on user within a 60-minute bound — the canonical impressions⋈clicks
    * shape. Both sides carry watermarks and the condition bounds both
    * event times, so Spark evicts join state as the watermark advances;
    * an inner join emits on match, so no sentinel flush is needed. The
    * output must hash-match the batch self-join over the events table.
    *
    * Completeness under eviction: a view can only be evicted once the
    * watermark (which lags the max seen event time by the 1 h delay)
    * passes view_ts + 60 min — by then any matching click (≤ 60 min after
    * the view, files time-ordered) has already arrived and matched. */
  val q80_stream_stream_join: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val views = ev.where(col("event_type") === "view")
    val clicks = ev.where(col("event_type") === "click")
    val (vDir, _, _) = stageTimeOrdered(views, d, "views", 4, dupEachFile = false)
    val (cDir, _, _) = stageTimeOrdered(clicks, d, "clicks", 4, dupEachFile = false)

    certTable(s, "q80_join", Seq(vDir -> ev.schema, cDir -> ev.schema)) {
      case Seq(v, c) =>
        Streaming.streamStreamJoin(
            v.select(col("event_id").as("view_id"), col("ts"), col("user_id")),
            c.select(col("event_id").as("click_id"), col("ts"), col("user_id")),
            "user_id", boundSeconds = 3600)
          .select(col("l.user_id").as("user_id"),
            col("view_id"), col("click_id"),
            col("l.ts").as("vts"), col("r.ts").as("cts"))
    }
      .select(col("user_id"), col("view_id"), col("click_id"),
        date_format(col("vts"), "yyyy-MM-dd HH:mm:ss").as("view_ts"),
        date_format(col("cts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"))
      .orderBy(col("view_id"), col("click_id"))
  }

  /** The equivalent batch self-join over the events table. */
  val q80_sql: String =
    """SELECT a.user_id, a.event_id AS view_id, b.event_id AS click_id,
      |       strftime(a.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
      |       strftime(b.ts, '%Y-%m-%d %H:%M:%S') AS click_ts
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id
      | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 60 MINUTE
      |WHERE a.event_type = 'view' AND b.event_type = 'click'
      |ORDER BY view_id, click_id""".stripMargin

  /** CDC → SCD2 "gold dimension" maintenance, certified end to end: a
    * change stream (two deterministic batches derived from customer — the
    * second RE-CHANGES a subset of the first batch's keys, so batch order
    * is load-bearing) replays through `foreachBatch`, each micro-batch
    * MERGEd into the versioned dimension by [[graft.operators.Scd2]]; the
    * final dimension must hash-match the oracle's relational replay of the
    * same two merges. This is the standard incremental-upsert sink shape
    * (stream → foreachBatch → MERGE INTO gold) — stateless in the stream
    * (state lives in the merged table), so no state store is involved;
    * per-batch `localCheckpoint` keeps the lineage from re-running prior
    * merges. */
  val q98_stream_scd2: Q = (s, d) => {
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val batch1 = c.where(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"), col("c_name"),
        (col("c_acctbal") + 100.0).as("c_acctbal"),
        lit("1995-06-17").cast("date").as("effective"))
      .unionByName(c.where(col("c_custkey") % 97 === 3)
        .select((col("c_custkey") + 1000000L).as("c_custkey"), col("c_name"),
          col("c_acctbal"), lit("1995-06-17").cast("date").as("effective")))
    val batch2 = c.where(col("c_custkey") % 14 === 0)
      .select(col("c_custkey"), col("c_name"),
        (col("c_acctbal") + 200.0).as("c_acctbal"),
        lit("1996-06-17").cast("date").as("effective"))

    val (srcDir, _, _) = Stage.memo(d, "scd2chg") { dir =>
      val dirPath = Paths.get(dir)
      F.createDirectories(dirPath)
      stampReplayOrder(Seq(batch1, batch2).zipWithIndex.map { case (b, i) =>
        writeOneFile(b, dirPath, s"b$i", s"batch-$i.parquet")
      })
      (0L, 0L)
    }

    var state = c.select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        lit("1992-01-01").cast("date").as("valid_from"),
        lit(null).cast("date").as("valid_to"))
      .localCheckpoint(true)
    drain(s, Seq(srcDir -> batch1.schema), Stage.ckpt())(_.head)(
      _.foreachBatch { (b: org.apache.spark.sql.Dataset[Row], _: Long) =>
        state = graft.operators.Scd2.merge(state, b.toDF(), "c_custkey")
          .localCheckpoint(true)
        ()
      })
    state.orderBy(col("c_custkey"), col("valid_from"))
  }

  /** The same two merges replayed relationally, batch 1 then batch 2. */
  val q98_sql: String = {
    def mergeSql(dim: String, chg: String): String =
      s"""SELECT d.c_custkey, d.c_name, d.c_acctbal, d.valid_from,
         |       CASE WHEN d.valid_to IS NULL AND ch.c_custkey IS NOT NULL
         |            THEN ch.eff ELSE d.valid_to END AS valid_to
         |  FROM $dim d LEFT JOIN $chg ch ON d.c_custkey = ch.c_custkey
         |  UNION ALL
         |  SELECT c_custkey, c_name, c_acctbal, eff, NULL FROM $chg""".stripMargin
    s"""WITH c AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
       |dim0 AS (
       |  SELECT c_custkey, c_name, c_acctbal,
       |         DATE '1992-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
       |  FROM c),
       |chg1 AS (
       |  SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal, DATE '1995-06-17' AS eff
       |  FROM c WHERE c_custkey % 7 = 0
       |  UNION ALL
       |  SELECT c_custkey + 1000000, c_name, c_acctbal, DATE '1995-06-17'
       |  FROM c WHERE c_custkey % 97 = 3),
       |dim1 AS (
       |${mergeSql("dim0", "chg1")}),
       |chg2 AS (
       |  SELECT c_custkey, c_name, c_acctbal + 200.0 AS c_acctbal, DATE '1996-06-17' AS eff
       |  FROM c WHERE c_custkey % 14 = 0),
       |dim2 AS (
       |${mergeSql("dim1", "chg2")})
       |SELECT * FROM dim2 ORDER BY c_custkey, valid_from""".stripMargin
  }

  /** Streaming contamination gate, oracle-checked against q114's batch
    * SQL: the benchmark's distinct 4-gram set is computed ONCE batch-side
    * (bounded by construction — it collects only the benchmark docs'
    * grams), then the whole documents table replays through
    * [[graft.llm.Curation.contaminationFilter]] as four doc_id-range
    * micro-batches. The gate is STATELESS (a literal-array
    * `array_intersect` per row — no join, no state store, no watermark),
    * which is exactly the production shape: curate the benchmark set in
    * batch, gate the incoming corpus stream with it. Final memory-sink
    * contents must hash-match the batch oracle row-for-row. */
  val q117_stream_contamination: Q = (s, d) => {
    val docs = Tables.widen(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    // batch side: the benchmark gram set (sorted; the driver collect is
    // hard-bounded by benchGramSet's budget — a limit in the plan plus a
    // require on the result)
    val benchGrams = graft.llm.Curation.benchGramSet(
      docs, "text", col("doc_id") % 97 === 0, n = 4)
    // stage the corpus (minus bench docs) as 4 doc_id-range files
    val srcDir = stageDocRanges(docs.where(col("doc_id") % 97 =!= 0), d, "docs4s")
    certTable(s, "q117_contam", Seq(srcDir -> docs.schema)) {
      case Seq(st) => graft.llm.Curation
        .contaminationFilter(st, "text", "doc_id", benchGrams, n = 4)
    }
      .select(col("doc_id"), col("n_grams"), col("n_overlap"), col("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** q114's oracle verbatim — the streaming gate must reproduce the batch
    * contamination audit exactly. */
  val q117_sql: String = graft.queries.CurationQueries.oracles("q114_contamination")

  /** Streaming MinHash-LSH near-dup candidate generation, oracle-checked
    * against q23's batch SQL: the corpus replays as four doc_id-range
    * micro-batches; each doc's band buckets are computed STATELESSLY
    * ([[graft.llm.Dedup.bandBuckets]] — value-identical to the batch
    * signature path, shared code so they can't drift), then
    * [[Streaming.lshCandidateStream]] pairs every arrival against its
    * bucket's accumulated state across batch boundaries. The degenerate-
    * bucket cap is a batch post-filter on the final pair set (a stream
    * can't know a bucket's final size; dropping mid-stream would diverge
    * from the batch cap semantics). The emitted pair set must hash-match
    * the batch LSH self-join exactly. */
  val q123_stream_lsh: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.widen(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val srcDir = stageDocRanges(docs, d, "docsAll4")
    val pairs = certTable(s, "q123_lsh", Seq(srcDir -> docs.schema)) {
      case Seq(st) => Streaming.lshCandidateStream(graft.llm.Dedup
        .bandBuckets(st, "text", "doc_id", LlmQueries.LshK, LlmQueries.LshBands)
        .as[graft.llm.BandBucket]).toDF()
    }
    // batch post-filter mirroring lshCandidatePairs' maxBucket=1000 cap:
    // buckets past the cap are dropped ENTIRELY, pairs included. Bucket
    // keys come from the STAGED signature table (DocLsh memo) banded the
    // batch way — byte-identical to a second bandBuckets md5 pass over the
    // corpus (LshStreamSpec pins stream-vs-batch key parity), without
    // re-running the per-doc shingle → 8-hash pipeline per invocation.
    val oversized = DocLsh.oversizedLshBuckets(s, d, 1000)
    pairs
      .join(oversized, Seq("band", "bkey"), "left_anti")
      .select(col("doc_a"), col("doc_b")).distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q23's oracle verbatim — the streaming pair set must reproduce the
    * batch LSH candidate self-join exactly. */
  val q123_sql: String = graft.queries.LlmQueries.oracles("q23_lsh_candidates")

  /** Streaming quality-classifier gate: the corpus replays as four
    * doc_id-range micro-batches through the STATELESS literal-weights
    * scorer ([[graft.llm.Curation.linearScoreLiteral]] — per-token slot
    * lookup and score fold are row-local; no join, no state, no
    * watermark), and the final table must hash-match q136's batch oracle
    * verbatim — the same batch≡stream certification discipline as
    * q117/q123. */
  val q139_stream_quality: Q = (s, d) => {
    val docs = Tables.widen(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val weights: Map[Long, Long] = (0 until 256)
      .map(i => i.toLong -> ((i * 2654435761L) % 2000001L - 1000000L)).toMap
    val srcDir = stageDocRanges(docs, d, "docsAll4")
    certTable(s, "q139_quality", Seq(srcDir -> docs.schema)) {
      case Seq(st) => graft.llm.Curation
        .linearScoreLiteral(st, "text", "doc_id", weights, buckets = 256)
    }
      .select(col("doc_id"), col("n_tokens"), col("score_fp"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** q136's oracle verbatim — the streaming gate must reproduce the batch
    * classifier inference exactly. */
  val q139_sql: String = graft.queries.CurationQueries.oracles("q136_quality_classifier")

  /** Streaming SimHash near-dup certification — the ninth streaming cert:
    * fingerprints and band keys are computed ROW-LOCALLY per arriving doc
    * ([[graft.llm.Dedup.simhashBandBuckets]] — no shuffle, no state in the
    * fingerprint stage; byte-identical to the batch aggregate, asserted by
    * LshStreamSpec), the per-bucket pairing runs in
    * `flatMapGroupsWithState` across four doc_id-range micro-batches, and
    * the candidate set — hamming-verified batch-side — must hash-match the
    * batch banding oracle verbatim.
    *
    * Runs the WIDE-BAND config (64-bit fingerprint, 16-bit bands,
    * Hamming ≤ 3): the 8-bit-band key space saturates past ~256k docs
    * (the ScaleStress100 capacity wall), and on this deliberately
    * self-similar corpus the narrow 32-bit fingerprint makes most of the
    * corpus mutual near-dups (~563k pairs at sf0.1 — measured 33 s of
    * certification doing nothing but materializing them). The wide config
    * is both the scale-correct one and a 5000-pair-scale certification. */
  val q146_stream_simhash: Q = (s, d) => {
    import s.implicits._
    // half-corpus: the synthetic documents are deliberately self-similar,
    // so a full-corpus exact-banding certification spends its whole run
    // materializing genuine near-dup pairs (~850k streamed candidates at
    // sf0.1); halving the corpus quarters the within-bucket pair volume
    // while certifying the identical operator chain
    val docs = Tables.widen(Tables.documents(s, d))
      .where(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("text"))
    val srcDir = stageDocRanges(docs, d, "docsHalf4")
    val pairs = certTable(s, "q146_simhash", Seq(srcDir -> docs.schema)) {
      case Seq(st) => Streaming.lshCandidateStream(graft.llm.Dedup
        .simhashBandBuckets(st, "text", "doc_id", bits = 64, bandBits = 16)
        .as[graft.llm.BandBucket]).toDF()
    }
    // batch post-filter mirroring simhashNearDupPairs' maxBucket cap, then
    // exact Hamming verification — BOTH from the staged 64-bit fingerprint
    // table row-filtered to the half corpus (DocLsh.simhashFpHalf; band
    // keys are a pure shift/mask of the fingerprint), instead of two more
    // full per-doc tokenize+vote passes per invocation
    val fp = DocLsh.simhashFpHalf(s, d)
    val oversized = DocLsh.simhashBandKeys(fp, bits = 64, bandBits = 16)
      .groupBy(col("band"), col("bkey")).agg(count(lit(1)).as("n"))
      .where(col("n") > 1000)
      .select(col("band"), col("bkey"))
    pairs
      .join(oversized, Seq("band", "bkey"), "left_anti")
      .select(col("doc_a"), col("doc_b")).distinct()
      .join(fp.select(col("doc_id").as("doc_a"), col("simhash").as("sim_a")), Seq("doc_a"))
      .join(fp.select(col("doc_id").as("doc_b"), col("simhash").as("sim_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long").as("hamming"))
      .where(col("hamming") <= 3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The batch banding self-join replayed in SQL at the wide-band config —
    * the streamed, state-paired candidate set must reproduce it exactly. */
  val q146_sql: String = {
    val bandBits = 16
    val nBands = 64 / bandBits
    val bandSel = (0 until nBands).map { b =>
      s"SELECT doc_id, simhash, $b AS band, (simhash >> ${b * bandBits}) & ${(1L << bandBits) - 1} AS bkey FROM fp"
    }.mkString(" UNION ALL ")
    s"""WITH ${LlmQueries.simhashCtes(64, "(SELECT * FROM documents WHERE doc_id % 2 = 0)")},
       |allbuckets AS ($bandSel),
       |buckets AS (SELECT doc_id, simhash, band, bkey FROM (
       |  SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bsz FROM allbuckets)
       |  WHERE bsz <= 1000),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |                bit_count(xor(a.simhash, b.simhash)) AS hamming
       |         FROM buckets a JOIN buckets b
       |           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
       |FROM cand WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Stage a documents frame as 4 doc_id-range parquet files, memoized per
    * (sfDir, key), WITHOUT mtime stamping: the files replay in whatever
    * order their write mtimes give, which is enough for certs whose output
    * does not depend on the cross-batch arrival order (stateless gates,
    * commutative counts, order-free pairings). */
  private[queries] def stageDocRanges(docs: DataFrame, d: String, key: String): String =
    Stage.memo(d, key) { dir =>
      docs.repartitionByRange(4, col("doc_id")).write.mode("append").parquet(dir)
      (0L, 0L)
    }._1

  /** Stage `df` as `parts` range-partitioned parquet files on `orderCols`
    * with strictly-increasing mtimes in range order, so a
    * `maxFilesPerTrigger=1` replay delivers micro-batches in that total
    * order — doc_id for the admission caps, (event time, id) for the
    * stateful folds. Same mtime-stamping discipline as [[stageTimeOrdered]],
    * minus the event-time bounds and sentinels, which an unwatermarked
    * stateful op doesn't use. Memoized per (sfDir, key). */
  private[queries] def stageOrderedBy(df: DataFrame, d: String, key: String,
                             parts: Int,
                             orderCols: Seq[org.apache.spark.sql.Column]): String =
    Stage.memo(d, key) { srcDir =>
      df.repartitionByRange(parts, orderCols: _*).write.mode("append").parquet(srcDir)
      stampReplayOrder(partFiles(srcDir))
      (0L, 0L)
    }._1

  /** Streaming per-source admission cap — the tenth streaming cert:
    * [[Streaming.admitFirstK]] admits the first 30 docs per source across
    * four doc_id-ordered micro-batches (state: one long per source), and
    * the admitted set + ranks must hash-match the batch "30 smallest
    * doc_ids per source" window oracle. Cross-batch statefulness is real:
    * every source spans all four range files, so its count accumulates
    * through the whole replay. */
  val q152_stream_source_cap: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.widen(Tables.documents(s, d))
      .select(col("doc_id"), col("source"))
    val srcDir = stageOrderedBy(docs, d, "docsIdOrdered4", 4, Seq(col("doc_id")))
    certTable(s, "q152_cap", Seq(srcDir -> docs.schema)) {
      case Seq(st) => Streaming.admitFirstK(
        st.select(col("source"), col("doc_id")).as[Streaming.SourceDoc], 30L).toDF()
    }
      .select(col("doc_id"), col("source"), col("admit_rank"))
      .orderBy(col("doc_id"))
  }
  val q152_sql: String =
    """SELECT doc_id, source, admit_rank FROM (
      |  SELECT doc_id, source,
      |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS admit_rank
      |  FROM documents)
      |WHERE admit_rank <= 30 ORDER BY doc_id""".stripMargin

  /** Streaming per-source token budget — the eleventh streaming cert:
    * [[Streaming.admitTokenBudget]] admits docs while each source's
    * cumulative token count stays ≤ 600, across four doc_id-ordered
    * micro-batches (state: one saturated long per source). Unlike q152's
    * unit increments, the state advances by a VARIABLE amount per row and
    * the first overflow CLOSES the source — both must survive the batch
    * boundaries to hash-match the batch prefix-sum oracle. Budget 600
    * bites mid-source everywhere (sources carry ~1.1–1.6k tokens). */
  val q164_stream_token_budget: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.widen(Tables.documents(s, d))
      .select(col("doc_id"), col("source"),
        size(graft.llm.TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
    val srcDir = stageOrderedBy(docs, d, "docsTokIdOrdered4", 4, Seq(col("doc_id")))
    certTable(s, "q164_tb", Seq(srcDir -> docs.schema)) {
      case Seq(st) => Streaming.admitTokenBudget(
        st.select(col("source"), col("doc_id"), col("n_tokens"))
          .as[Streaming.SourceTokDoc], 600L).toDF()
    }
      .select(col("doc_id"), col("source"), col("cum_tokens"))
      .orderBy(col("doc_id"))
  }
  val q164_sql: String =
    """WITH t AS (SELECT doc_id, source,
      |  len(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> ''))::BIGINT AS n
      |  FROM documents),
      |c AS (SELECT doc_id, source, n,
      |        sum(n) OVER (PARTITION BY source ORDER BY doc_id) AS cum
      |      FROM t)
      |SELECT doc_id, source, CAST(cum AS BIGINT) AS cum_tokens FROM c
      |WHERE cum <= 600 ORDER BY doc_id""".stripMargin

  /** Stateful streaming EWMA — the seventeenth streaming cert:
    * [[Streaming.ewmaHalfLife]] carries the per-user integer recurrence
    * `sₜ = (sₜ₋₁ + xₜ) div 2` across micro-batch boundaries with ONE long
    * of state per key. Events are staged range-partitioned on
    * (tsm, event_id) so the replay's cross-batch order IS the recurrence
    * order; within a batch the fold sorts each key's slice. The final
    * table must hash-match the batch sorted-run fold's oracle (q202's
    * per-prefix `list_reduce` replay) row-for-row — certifying that the
    * streaming state hand-off is exactly the batch fold split at
    * arbitrary batch boundaries. */
  val q208_stream_ewma: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d).select(
      col("user_id").cast("long").as("user_id"),
      unix_millis(col("ts")).as("tsm"),
      col("event_id").cast("long").as("event_id"),
      round(abs(col("value")) * 10000).cast("long").as("x"))
    val srcDir = stageOrderedBy(ev, d, "eventsTsOrdered4", 4,
      Seq(col("tsm"), col("event_id")))
    certTable(s, "q208_ewma", Seq(srcDir -> ev.schema)) {
      case Seq(st) => Streaming.ewmaHalfLife(st.as[Streaming.KeyedObs]).toDF()
    }
      .select(col("user_id"), col("event_id"), col("x"), col("ewma"))
      .orderBy(col("event_id"))
  }
  val q208_sql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS tsm,
      |             CAST(round(abs(value) * 10000) AS BIGINT) AS x
      |           FROM events),
      |g AS (SELECT user_id,
      |        list(x ORDER BY tsm, event_id) AS xs,
      |        list(event_id ORDER BY tsm, event_id) AS ids
      |      FROM e GROUP BY 1),
      |u AS (SELECT user_id, unnest(ids) AS event_id, unnest(xs) AS x,
      |             unnest(list_transform(range(1, len(xs) + 1),
      |               i -> list_reduce(xs[1:i], (a, b) -> (a + b) // 2))) AS ewma
      |      FROM g)
      |SELECT user_id, event_id, x, ewma FROM u ORDER BY event_id""".stripMargin

  /** Stateful streaming CUSUM — the eighteenth streaming cert:
    * [[Streaming.cusumDrift]] carries q207's per-user drift statistic
    * across micro-batch boundaries with one long of state per key.
    * Replays the SAME staged (tsm, event_id)-ordered files as q208 (the
    * staging memo makes that one copy), and the final table must
    * hash-match q207's batch `list_reduce` oracle — certifying the
    * always-on drift-sentinel shape: no history rescan, |keys|-bounded
    * state, batch/stream agreement at every batch boundary. */
  val q212_stream_cusum: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d).select(
      col("user_id").cast("long").as("user_id"),
      unix_millis(col("ts")).as("tsm"),
      col("event_id").cast("long").as("event_id"),
      round(abs(col("value")) * 10000).cast("long").as("x"))
    val srcDir = stageOrderedBy(ev, d, "eventsTsOrdered4", 4,
      Seq(col("tsm"), col("event_id")))
    certTable(s, "q212_cusum", Seq(srcDir -> ev.schema)) {
      case Seq(st) =>
        Streaming.cusumDrift(st.as[Streaming.KeyedObs], k = 5000L, h = 30000L).toDF()
    }
      .select(col("user_id"), col("event_id"), col("x"), col("cusum"),
        col("alarm"))
      .orderBy(col("event_id"))
  }
  val q212_sql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS tsm,
      |             CAST(round(abs(value) * 10000) AS BIGINT) AS x
      |           FROM events),
      |g AS (SELECT user_id,
      |        list(x ORDER BY tsm, event_id) AS xs,
      |        list(event_id ORDER BY tsm, event_id) AS ids
      |      FROM e GROUP BY 1),
      |u AS (SELECT user_id, unnest(ids) AS event_id, unnest(xs) AS x,
      |             unnest(list_transform(range(1, len(xs) + 1),
      |               i -> list_reduce(list_prepend(0::BIGINT, xs[1:i]),
      |                      (a, b) -> greatest(0, a + b - 5000)))) AS cusum
      |      FROM g)
      |SELECT user_id, event_id, x, cusum, cusum > 30000 AS alarm
      |FROM u ORDER BY event_id""".stripMargin

  /** Streaming vocabulary/OOV gate — the twelfth streaming cert: the
    * top-20 vocab is fit batch-side ([[graft.llm.TextAnalysis.vocabTopV]],
    * a bounded driver collect with an explicit budget — gate config, like
    * q117's gram set and q139's weights), inlined as a literal array, and
    * every arriving doc is scored ROW-LOCALLY
    * ([[graft.llm.TextAnalysis.oovGateLiteral]] — no aggregate, no state,
    * no shuffle). Output must hash-match q168's batch coverage plus the
    * keep verdict at the 0.32 median cut. */
  val q173_stream_oov: Q = (s, d) => {
    val docs = Tables.widen(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val vocab = graft.llm.TextAnalysis.vocabTopV(Tables.documents(s, d), "text", 20)
    val srcDir = stageDocRanges(docs, d, "docsAll4")
    certTable(s, "q173_oov", Seq(srcDir -> docs.schema)) {
      case Seq(st) => graft.llm.TextAnalysis
        .oovGateLiteral(st, "text", "doc_id", vocab, 320000L)
    }
      .select(col("doc_id"), col("n_tokens"), col("n_oov"), col("oov_fp"),
        col("keep"))
      .orderBy(col("doc_id"))
  }
  val q173_sql: String =
    """WITH tok AS (SELECT doc_id,
      |  unnest(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '')) AS term
      |  FROM documents),
      |vc AS (SELECT term, count(*) AS cnt FROM tok GROUP BY 1),
      |v AS (SELECT term FROM vc ORDER BY cnt DESC, term LIMIT 20),
      |pd AS (SELECT tok.doc_id, count(*)::BIGINT AS n_tokens,
      |         sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov
      |       FROM tok LEFT JOIN v ON tok.term = v.term GROUP BY 1),
      |f AS (SELECT d.doc_id, coalesce(pd.n_tokens, 0) AS n_tokens,
      |        coalesce(pd.n_oov, 0) AS n_oov,
      |        CASE WHEN coalesce(pd.n_tokens, 0) > 0
      |             THEN (pd.n_oov * 1000000) // pd.n_tokens ELSE 0 END AS oov_fp
      |      FROM documents d LEFT JOIN pd USING (doc_id))
      |SELECT doc_id, n_tokens, n_oov, oov_fp, oov_fp < 320000 AS keep
      |FROM f ORDER BY doc_id""".stripMargin

  /** Sliding-window streaming aggregation — the thirteenth streaming
    * cert: 2-hour windows sliding every hour, so EVERY event lands in
    * exactly two windows (the overlap fan-out happens row-locally in the
    * window Generate, not a join). Sentinels sit at +5h/+7h: the last
    * window can end as late as hi+2h, and the flush batch needs the
    * watermark (sentinel − 2h delay) STRICTLY past that. The oracle
    * replays the overlap as a two-branch UNION ALL of shifted hourly
    * truncations. */
  val q178_stream_sliding: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val (srcDir, _, _) = stageTimeOrdered(ev, d, "events4s5", 4, dupEachFile = false,
      sentinelOffsetsMs = Seq(5 * 60 * 60 * 1000L, 7 * 60 * 60 * 1000L))
    certTable(s, "q178_sliding", Seq(srcDir -> ev.schema)) {
      case Seq(st) => Streaming.slidingEventCounts(st, "2 hours", "1 hour", "2 hours")
    }
      .where(col("event_type") =!= "sentinel")
      .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start_s"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("window_start_s"), col("event_type"))
  }
  val q178_sql: String =
    """WITH x AS (
      |  SELECT date_trunc('hour', ts) AS ws, event_type, value FROM events
      |  UNION ALL
      |  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type, value FROM events)
      |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start_s, event_type,
      |       count(*) AS n,
      |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM x GROUP BY 1, 2 ORDER BY window_start_s, event_type""".stripMargin

  /** Streaming composition-drift scoreboard — the fourteenth streaming
    * cert: docs arrive in micro-batches, a streaming aggregation maintains
    * the per-tick (doc_id div 125 — an ingestion-time bucket) × source
    * histogram incrementally across batches (complete-mode state, the
    * histogram is bounded ticks×sources), and the drift stage
    * ([[graft.llm.Drift.perTickDrift]]) scores each tick's composition
    * against the batch-fit reference histogram in rational fixed point.
    * Must hash-match the all-batch oracle replay. */
  val q188_stream_drift: Q = (s, d) => {
    val docs = Tables.widen(Tables.documents(s, d))
      .select(col("doc_id"), col("source"))
    val srcDir = stageDocRanges(docs, d, "docsrc4")
    val hist = certTable(s, "q188_drift", Seq(srcDir -> docs.schema), "complete") {
      case Seq(st) => st
        .select(expr("doc_id div 125").as("tick"), col("source").as("value"))
        .groupBy(col("tick"), col("value"))
        .agg(count(lit(1)).as("n"))
    }
    val ref = Tables.documents(s, d)
      .groupBy(col("source").as("value"))
      .agg(count(lit(1)).as("n_ref"))
    graft.llm.Drift.perTickDrift(hist, ref)
      .orderBy(col("tick"))
  }
  val q188_sql: String =
    """WITH t AS (SELECT doc_id // 125 AS tick, source FROM documents),
      |h AS (SELECT tick, source, count(*)::BIGINT AS n FROM t GROUP BY 1, 2),
      |tt AS (SELECT tick, sum(n)::BIGINT AS tot FROM h GROUP BY 1),
      |ref AS (SELECT source, count(*)::BIGINT AS n_ref FROM documents GROUP BY 1),
      |rt AS (SELECT sum(n_ref)::BIGINT AS tr FROM ref),
      |grid AS (SELECT tt.tick, ref.source, ref.n_ref, tt.tot,
      |                coalesce(h.n, 0)::BIGINT AS n
      |         FROM tt CROSS JOIN ref
      |         LEFT JOIN h ON h.tick = tt.tick AND h.source = ref.source),
      |fp AS (SELECT g.tick,
      |         (g.n * 1000000) // g.tot AS p,
      |         (g.n_ref * 1000000) // rt.tr AS pr
      |       FROM grid g CROSS JOIN rt)
      |SELECT tick, (sum(abs(p - pr)) // 2)::BIGINT AS tvd_fp
      |FROM fp GROUP BY tick ORDER BY tick""".stripMargin

  /** Late-data watermark-drop certification — the fifteenth streaming
    * cert, and the first to certify what the watermark DROPS rather than
    * what it emits: every 7th event is withheld from the time-ordered
    * replay and redelivered in one batch at the very end, when the
    * watermark already stands at `max(on-time ts) − 48h`. Spark must
    * aggregate exactly the stragglers whose hourly window is still open
    * (`window_end > watermark` — the last ~2 days of history) and drop
    * the rest on the floor. The oracle replays the same admission rule
    * arithmetically — `date_trunc(hour, ts) + 1h > max_ontime − 48h` —
    * so both the admitted set and, by their absence, the dropped set are
    * hash-certified. On-time slices can never lose rows whatever the
    * delay (each batch's minimum exceeds the previous batch's maximum,
    * and the watermark lags that by the full delay). */
  val q196_stream_late_data: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
    val (srcDir, _, _) = stageLateReplay(ev, d, "events3late", 3,
      col("event_id") % 7 === 0,
      sentinelOffsetsMs = Seq(50 * 60 * 60 * 1000L, 54 * 60 * 60 * 1000L))
    certTable(s, "q196_late", Seq(srcDir -> ev.schema)) {
      case Seq(st) => Streaming.windowedEventCounts(st, "1 hour", "48 hours")
    }
      .where(col("event_type") =!= "sentinel")
      .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start_s"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("window_start_s"), col("event_type"))
  }
  val q196_sql: String =
    """WITH hi AS (SELECT max(ts) AS h FROM events WHERE event_id % 7 <> 0),
      |adm AS (
      |  SELECT ts, event_type, value FROM events WHERE event_id % 7 <> 0
      |  UNION ALL
      |  SELECT ts, event_type, value FROM events, hi
      |  WHERE event_id % 7 = 0
      |    AND date_trunc('hour', ts) + INTERVAL 1 HOUR > h - INTERVAL 48 HOUR)
      |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start_s,
      |       event_type, count(*) AS n,
      |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM adm GROUP BY 1, 2 ORDER BY window_start_s, event_type""".stripMargin

  /** Stream-static broadcast-join enrichment — the sixteenth streaming
    * cert: each micro-batch of arriving documents joins a STATIC
    * per-source dimension (doc count + total chars, computed batch-side
    * once) with the static side broadcast — the canonical "enrich the
    * stream against reference data" shape. Stateless: no watermark, no
    * state store; the join re-executes per batch against the same static
    * relation, and the appended union across batches must hash-match the
    * batch join replayed by the oracle. */
  val q198_stream_static_join: Q = (s, d) => {
    val docs = Tables.widen(Tables.documents(s, d))
      .select(col("doc_id"), col("source"))
    val srcDir = stageDocRanges(docs, d, "docsrc4")
    val dim = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_src"), sum(col("n_chars")).as("src_chars"))
    certTable(s, "q198_ssj", Seq(srcDir -> docs.schema)) {
      case Seq(st) => st
        .join(broadcast(dim), Seq("source"))
        .select(col("doc_id"), col("source"), col("n_src"), col("src_chars"))
    }.orderBy(col("doc_id"))
  }
  val q198_sql: String =
    """WITH c AS (SELECT source, count(*)::BIGINT AS n_src,
      |                  sum(n_chars)::BIGINT AS src_chars
      |           FROM documents GROUP BY 1)
      |SELECT doc_id, source, n_src, src_chars
      |FROM documents JOIN c USING (source) ORDER BY doc_id""".stripMargin

  /** Stateful streaming pattern matcher — the nineteenth streaming cert:
    * [[Streaming.patternDfa]] advances q210's view→click→purchase
    * automaton across micro-batch boundaries with one packed long of
    * state per key. Staged on its own (tsm, event_id)-ordered copy
    * (event CODES, not values), and the final table must hash-match
    * q210's batch oracle — certifying that an order-sensitive state
    * MACHINE (not just a numeric recurrence) splits correctly at
    * arbitrary batch boundaries. */
  val q218_stream_dfa: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d).select(
      col("user_id").cast("long").as("user_id"),
      unix_millis(col("ts")).as("tsm"),
      col("event_id").cast("long").as("event_id"),
      when(col("event_type") === "view", 1L)
        .when(col("event_type") === "click", 2L)
        .when(col("event_type") === "purchase", 3L)
        .otherwise(0L).as("x"))
    val srcDir = stageOrderedBy(ev, d, "eventsTsCodeOrdered4", 4,
      Seq(col("tsm"), col("event_id")))
    certTable(s, "q218_dfa", Seq(srcDir -> ev.schema)) {
      case Seq(st) => Streaming.patternDfa(st.as[Streaming.KeyedObs]).toDF()
    }
      .select(col("user_id"), col("event_id"), col("x"), col("dfa"))
      .withColumn("completions", expr("dfa div 10"))
      .withColumn("stage", col("dfa") % 10)
      .orderBy(col("event_id"))
  }
  /** Same oracle as the batch fold — the certification IS the equality. */
  val q218_sql: String = AnalyticsQueries.q210_sql

  val defs: Map[String, Q] = Map(
    "q218_stream_dfa" -> q218_stream_dfa,
    "q208_stream_ewma" -> q208_stream_ewma,
    "q212_stream_cusum" -> q212_stream_cusum,
    "q196_stream_late_data" -> q196_stream_late_data,
    "q198_stream_static_join" -> q198_stream_static_join,
    "q188_stream_drift" -> q188_stream_drift,
    "q65_stream_sessions" -> q65_stream_sessions,
    "q74_stream_windows" -> q74_stream_windows,
    "q75_stream_dedup" -> q75_stream_dedup,
    "q80_stream_stream_join" -> q80_stream_stream_join,
    "q98_stream_scd2" -> q98_stream_scd2,
    "q117_stream_contamination" -> q117_stream_contamination,
    "q123_stream_lsh" -> q123_stream_lsh,
    "q139_stream_quality" -> q139_stream_quality,
    "q146_stream_simhash" -> q146_stream_simhash,
    "q152_stream_source_cap" -> q152_stream_source_cap,
    "q164_stream_token_budget" -> q164_stream_token_budget,
    "q173_stream_oov" -> q173_stream_oov,
    "q178_stream_sliding" -> q178_stream_sliding)

  val oracles: Map[String, String] = Map(
    "q65_stream_sessions" -> q65_sql,
    "q74_stream_windows" -> q74_sql,
    "q75_stream_dedup" -> q75_sql,
    "q80_stream_stream_join" -> q80_sql,
    "q98_stream_scd2" -> q98_sql,
    "q117_stream_contamination" -> q117_sql,
    "q123_stream_lsh" -> q123_sql,
    "q139_stream_quality" -> q139_sql,
    "q146_stream_simhash" -> q146_sql,
    "q152_stream_source_cap" -> q152_sql,
    "q164_stream_token_budget" -> q164_sql,
    "q173_stream_oov" -> q173_sql,
    "q178_stream_sliding" -> q178_sql,
    "q188_stream_drift" -> q188_sql,
    "q196_stream_late_data" -> q196_sql,
    "q198_stream_static_join" -> q198_sql,
    "q208_stream_ewma" -> q208_sql,
    "q212_stream_cusum" -> q212_sql,
    "q218_stream_dfa" -> q218_sql)
}
