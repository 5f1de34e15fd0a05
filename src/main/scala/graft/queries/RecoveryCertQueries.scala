package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.streaming.Streaming
import graft.queries.StreamingQueries._

/** Checkpoint-RECOVERY certifications — the recovery shapes, split out
  * of [[StreamingCertQueries]] (round-12 verdict: the registry had
  * regrown past the repo's ~1500-line file bar). Each cert runs through
  * [[StreamingQueries.recoveringTable]] / `recoveringTableMulti`, which
  * live beside the continuous certs' `certTable` in [[StreamingQueries]]
  * and share its one source-opening, drain-to-end function; the staging
  * harness (`Stage`, `stageOrderedBy`, `withCertStatePartitions`) is
  * there too with package-private visibility, so staged replay corpora
  * remain memoized across all three streaming registries.
  * Contract: each cert kills a real streaming query mid-corpus,
  * resumes a new incarnation from the SAME checkpoint, and the recovered
  * cumulative output must hash-match the batch DuckDB oracle.
  */
object RecoveryCertQueries {

  type Q = (SparkSession, String) => DataFrame

  /** q208's EWMA cert under CHECKPOINT RECOVERY — the thirty-third
    * streaming cert: two of the four (tsm, event_id)-ordered micro-batches
    * run, the query is stopped, and a new incarnation resumes from the
    * checkpoint with every per-user state long restored. Append-mode
    * emission is exactly-once per observation, so the union of the two
    * incarnations must hash-match the SAME batch `list_reduce` oracle as
    * the continuous run — any state lost or recomputed differently across
    * the restart shifts some post-restart ewma and breaks the hash. */
  val q313_recovery_ewma: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d).select(
      col("user_id").cast("long").as("user_id"),
      unix_millis(col("ts")).as("tsm"),
      col("event_id").cast("long").as("event_id"),
      round(abs(col("value")) * 10000).cast("long").as("x"))
    val srcDir = stageOrderedBy(ev, d, "eventsTsOrdered4", 4,
      Seq(col("tsm"), col("event_id")))
    recoveringTable(s, srcDir, firstN = 2, tag = "q313_rec_ewma")(
      st => Streaming.ewmaHalfLife(st.as[Streaming.KeyedObs]).toDF(), ev.schema)
      .select(col("user_id"), col("event_id"), col("x"), col("ewma"))
      .orderBy(col("event_id"))
  }
  /** Identical recurrence + replay order → q208's oracle verbatim. */
  val q313_sql: String = StreamingQueries.q208_sql

  /** q284's Holt–Winters cert under CHECKPOINT RECOVERY — the thirty-
    * fourth streaming cert: the m + 3 longs per series (level, trend,
    * step counter, 7-slot seasonal ring) must survive the restart
    * bit-for-bit; the seasonal ring makes this the strictest recovery
    * probe, since a post-restart step reads the slot written m steps
    * before the crash. Union of incarnations vs q279's batch fold. */
  val q314_recovery_hw: Q = (s, d) => {
    import s.implicits._
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"),
        expr("unix_millis(ts) div 86400000").as("day"))
      .agg(count(lit(1)).as("x"))
    val srcDir = stageOrderedBy(daily, d, "dailyTypeCounts4", 4,
      Seq(col("day"), col("event_type")))
    recoveringTable(s, srcDir, firstN = 2, tag = "q314_rec_hw")(
      st => Streaming.holtWintersStream(st.as[Streaming.HwObs], m = 7).toDF(),
      daily.schema)
      .select(col("event_type"), col("day"), col("x"), col("level"),
        col("trend"), col("seas"))
      .orderBy(col("event_type"), col("day"))
  }
  /** Same oracle as the continuous Holt–Winters cert (q279's). */
  val q314_sql: String = ForecastQueries.q279_sql

  /** q307's moments sketch under CHECKPOINT RECOVERY — the thirty-fifth
    * streaming cert: the per-type (n, Σv, Σv², Σv³) monoid state resumes
    * from the store and keeps accumulating; the final readout is the max
    * cumulative emission ACROSS incarnations (monotone in seen), so a
    * restart that dropped or double-counted any pre-crash batch would
    * shift the final sums and break the hash against the direct batch
    * aggregate. */
  val q315_recovery_moments: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d).select(
      col("event_type"),
      round(col("value")).cast("long").as("v"),
      col("event_id").cast("long").as("event_id"))
    val srcDir = stageOrderedBy(ev, d, "eventsMomOrdered4", 4,
      Seq(col("event_type"), col("v"), col("event_id")))
    recoveringTable(s, srcDir, firstN = 2, tag = "q315_rec_mom")(
      st => Streaming.momentsSketch(st.as[Streaming.MomObs]).toDF(), ev.schema)
      .groupBy(col("event_type"))
      .agg(max(struct(col("seen"), col("s1"), col("s2"), col("s3"))).as("f"))
      .select(col("event_type"), col("f.seen").as("n_obs"),
        col("f.s1").as("s1"), col("f.s2").as("s2"), col("f.s3").as("s3"))
      .withColumn("nd", expr("cast(n_obs as decimal(38,0))"))
      .withColumn("s1d", expr("cast(s1 as decimal(38,0))"))
      .withColumn("mean_ppm",
        expr("cast((s1d * 1000000) div nd as bigint)"))
      .withColumn("var_ppm",
        expr("cast(((nd * s2 - s1d * s1d) * 1000000) div (nd * nd)" +
          " as bigint)"))
      .drop("nd", "s1d")
      .orderBy(col("event_type"))
  }
  /** Same oracle as the continuous moments cert. */
  val q315_sql: String = StreamingCertQueries.q307_sql

  /** q65's SESSIONIZATION under CHECKPOINT RECOVERY — the thirty-sixth
    * streaming cert and the operationally hardest one: event-time
    * timeouts. The restart must restore BOTH the per-user open-session
    * state and the WATERMARK (persisted in the checkpoint's commit
    * metadata) — a watermark reset to zero would re-admit late data and
    * defer every timeout; a lost open session would drop or split its
    * user's trailing session. Three of the six staged files (4 time
    * slices + 2 sentinels) process before the restart, so real sessions
    * are open mid-crash; the sentinels fire the timeouts in incarnation
    * 2. Output must hash-match the batch gap-split oracle exactly as the
    * continuous q65 does. */
  val q322_recovery_sessions: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
    val (srcDir, _, _) = stageTimeOrdered(ev, d, "events4s", 4,
      dupEachFile = false,
      sentinelOffsetsMs = Seq(4 * 60 * 60 * 1000L, 6 * 60 * 60 * 1000L))
    val out = recoveringTable(s, srcDir, firstN = 3, tag = "q322_rec_sess")(
      st => Streaming.sessionize(st.as[Streaming.Event], GapMs).toDF(),
      ev.schema)
    val w = Window.partitionBy(col("user_id")).orderBy(col("start"))
    out
      .where(col("user_id") >= 0) // drop the sentinel user
      .withColumn("session_id", row_number().over(w).cast("long"))
      .select(col("user_id"), col("session_id"), col("n_events"),
        date_format(col("start"), "yyyy-MM-dd HH:mm:ss").as("session_start"))
      .orderBy(col("user_id"), col("session_id"))
  }
  /** Same oracle as the continuous sessionization cert. */
  val q322_sql: String = StreamingQueries.q65_sql

  /** q80's STREAM-STREAM JOIN under CHECKPOINT RECOVERY — the thirty-
    * seventh streaming cert: both sides' buffered join state (unmatched
    * views and clicks within the 60-minute bound) lives in the state
    * store and must survive the restart, or a view arriving before the
    * crash loses its post-restart clicks. Each side is its own file
    * source with its own offset log inside the one checkpoint; two of
    * each side's four files process in incarnation 1. The recovered
    * run's matches must hash-match the batch interval self-join oracle
    * — every cross-restart pair included exactly once. */
  val q323_recovery_join: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
    val views = ev.where(col("event_type") === "view")
    val clicks = ev.where(col("event_type") === "click")
    val (vDir, _, _) = stageTimeOrdered(views, d, "views", 4, dupEachFile = false)
    val (cDir, _, _) = stageTimeOrdered(clicks, d, "clicks", 4, dupEachFile = false)
    recoveringTableMulti(s, "q323_rec_join",
      Seq(RecSrc(vDir, 2, ev.schema), RecSrc(cDir, 2, ev.schema))) { streams =>
      Streaming.streamStreamJoin(
          streams(0).select(col("event_id").as("view_id"), col("ts"), col("user_id")),
          streams(1).select(col("event_id").as("click_id"), col("ts"), col("user_id")),
          "user_id", boundSeconds = 3600)
        .select(col("l.user_id").as("user_id"), col("view_id"), col("click_id"),
          col("l.ts").as("vts"), col("r.ts").as("cts"))
    }
      .select(col("user_id"), col("view_id"), col("click_id"),
        date_format(col("vts"), "yyyy-MM-dd HH:mm:ss").as("view_ts"),
        date_format(col("cts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"))
      .orderBy(col("view_id"), col("click_id"))
  }
  /** Same oracle as the continuous stream-stream join cert. */
  val q323_sql: String = StreamingQueries.q80_sql


  /** The thirty-ninth streaming cert — the Kendall grid under CHECKPOINT
    * RECOVERY, the sixth recovery shape (per-cell monoid counters): two
    * of the four staged files run through [[Streaming.gridCount]], the
    * query stops, and a new incarnation resumes every cell's (seen, c)
    * state from the store. Counts are monotone, so the readout is each
    * cell's max-`seen` emission across BOTH incarnations; a restart that
    * dropped or double-counted any pre-crash batch shifts some cell
    * count, which τ-b's C/D pair sums amplify — and the hash against
    * q327's batch oracle breaks. Complete-mode streaming (q333) proves
    * arrival order can't change τ; this proves a mid-stream death
    * can't either. */
  val q335_recovery_kendall: Q = (s, d) => {
    import s.implicits._
    val li = Tables.lineitem(s, d).select(
      col("l_returnflag").as("rf"),
      col("l_quantity").cast("long").as("a"),
      expr("cast(round(l_discount * 100) as bigint)").as("b"),
      col("l_orderkey").cast("long").as("ok"),
      col("l_linenumber").cast("long").as("ln"))
    val srcDir = stageOrderedBy(li, d, "liKendallOrdered4", 4,
      Seq(col("ok"), col("ln")))
    val grid = recoveringTable(s, srcDir, firstN = 2, tag = "q335_rec_ken")(
      st => Streaming.gridCount(
        st.select(col("rf"), col("a"), col("b")).as[Streaming.CellObs]).toDF(),
      li.schema)
      .groupBy(col("rf"), col("a"), col("b"))
      .agg(max(struct(col("seen"), col("c"))).as("f"))
      .select(col("rf"), col("a"), col("b"), col("f.c").as("c"))
    EvalQueries.kendallFromGrid(grid)
  }
  /** Same oracle as the batch grid τ-b and the Complete-mode cert. */
  val q335_sql: String = EvalQueries.q327_sql

  /** q234's HyperLogLog under CHECKPOINT RECOVERY — the fortieth
    * streaming cert and the seventh recovery shape: the per-week m-byte
    * REGISTER ARRAY (the distinct-count sketch itself) must survive the
    * restart bit-for-bit. Register max is idempotent and commutative, so
    * a correctly recovered run is indistinguishable from the continuous
    * one — but a register array lost to the crash resets some week's
    * maxima and inflates its denominator sum, which the estimate
    * `numerator/s` amplifies and the hash against q227's batch rollup
    * catches. Two of the four (tsm, event_id)-ordered files process
    * before the kill; the readout is each week's max-`seen` emission
    * across BOTH incarnations (Append mode through the fault-tolerant
    * parquet sink, per the [[Streaming.gridCount]] precedent — Complete
    * mode cannot recover through the file sink). This is the durable
    * form a 100 TB ingest needs: sketch registers that outlive any one
    * executor or driver. */
  val q339_recovery_hll: Q = (s, d) => {
    import s.implicits._
    val m = 256
    val bits = graft.llm.Hll.rhoBits(m)
    val ev = Tables.events(s, d).select(
      unix_millis(col("ts")).as("tsm"),
      col("event_id").cast("long").as("event_id"),
      expr("unix_millis(ts) div 86400000 div 7").as("week"),
      graft.llm.Hll.jCol(col("user_id"), m).as("j"),
      graft.llm.Hll.rhoCol(col("user_id"), m).cast("long").as("rho"))
    val srcDir = stageOrderedBy(ev, d, "eventsHllOrdered4", 4,
      Seq(col("tsm"), col("event_id")))
    recoveringTable(s, srcDir, firstN = 2, tag = "q339_rec_hll")(
      st => Streaming.hllSketch(st.as[Streaming.HllObs], m, bits).toDF(),
      ev.schema)
      .groupBy(col("week"))
      .agg(max(struct(col("seen"), col("s"), col("zero_registers"))).as("f"))
      .select(col("week"), col("f.seen").as("n_events"),
        (lit(graft.llm.Hll.numerator(m)) / col("f.s")).as("hll_estimate"),
        col("f.zero_registers"))
      .orderBy(col("week"))
  }
  /** Same oracle as the continuous streaming HLL cert. */
  val q339_sql: String = StreamingCertQueries.q234_sql

  /** q239's Count-Min row registers under CHECKPOINT RECOVERY — the
    * forty-first streaming cert, eighth recovery shape: each hash row's
    * w-counter array resumes from the state store and keeps absorbing
    * increments; counter adds are a +-monoid, so the recovered Σc² per
    * row — and the min-over-rows join-size estimate — must hash-match
    * q235's batch sketch exactly. A dropped or replayed pre-crash batch
    * shifts some counters, the squares amplify it, and the ratio against
    * the batch-exact self-join size breaks the hash. Two of the four
    * (k, lid, i)-ordered files process before the kill; Append-mode
    * emissions flow through the parquet sink's commit log, so only
    * batches committed by either incarnation count. */
  val q340_recovery_cms: Q = (s, d) => {
    import s.implicits._
    val depth = 3
    val width = 512
    val keys = Tables.lineitem(s, d).select(col("l_partkey").as("k"),
      (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("lid"))
    val ib = (0 until depth).map { i =>
      struct(lit(i.toLong).as("i"),
        graft.llm.Sketch.cmsBucket(i, col("k"), width).as("b"))
    }
    val obs = keys.select(col("k"), col("lid"), explode(array(ib: _*)).as("ib"))
      .select(col("ib.i").as("i"), col("ib.b").as("b"), col("k"), col("lid"))
    val srcDir = stageOrderedBy(obs, d, "lineitemCmsOrdered4", 4,
      Seq(col("k"), col("lid"), col("i")))
    val est = recoveringTable(s, srcDir, firstN = 2, tag = "q340_rec_cms")(
      st => Streaming.cmsRowSquares(st.as[Streaming.CmsObs], width).toDF(),
      obs.schema)
      .groupBy(col("i"))
      .agg(max(struct(col("seen"), col("e"))).as("f"))
      .agg(min(col("f.e")).as("cms_join_size"))
    val exact = Tables.lineitem(s, d).groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * col("c")).as("exact_join_size"))
    exact.crossJoin(broadcast(est)) // 1 row x 1 row
      .withColumn("ratio_ppm",
        expr("cms_join_size * 1000000 div exact_join_size"))
  }
  /** Same oracle as the batch sketch estimate and the continuous cert. */
  val q340_sql: String = StreamingCertQueries.q239_sql

  /** q264's KMV distinct-cardinality sketch under CHECKPOINT RECOVERY —
    * the forty-second streaming cert, ninth recovery shape: the k-min
    * hash SET per source (≤ 64 longs) resumes from the store; the k-min
    * merge is commutative AND idempotent, so even a replayed arrival
    * cannot change the registers — but a LOST register set re-admits
    * hashes the pre-crash run had already evicted, shifts the k-th
    * minimum t, and breaks the integral estimate `(k−1)·2³² div t`
    * against the batch KMV oracle. Two of the four (doc_id, h)-ordered
    * token files process before the kill; the readout takes each
    * source's max-`seen` Append emission across both incarnations. */
  val q341_recovery_kmv: Q = (s, d) => {
    import s.implicits._
    val k = 64
    val toks = Tables.documents(s, d)
      .select(col("doc_id").cast("long").as("doc_id"), col("source"),
        explode(graft.llm.TextAnalysis.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("source"),
        graft.operators.Kmv.hash32(col("tok")).as("h"))
    val srcDir = stageOrderedBy(toks, d, "docsKmvOrdered4", 4,
      Seq(col("doc_id"), col("h")))
    recoveringTable(s, srcDir, firstN = 2, tag = "q341_rec_kmv")(
      st => Streaming.kmvSketch(st.as[Streaming.KmvObs], k).toDF(),
      toks.schema)
      .groupBy(col("source"))
      .agg(max(struct(col("seen"), col("m"), col("t"))).as("f"))
      .select(col("source"), col("f.seen").as("n_obs"),
        when(col("f.m") < k, col("f.m"))
          .otherwise(expr(s"((${k - 1}) * 4294967296) div greatest(f.t, 1)"))
          .as("n_distinct_est"))
      .orderBy(col("source"))
  }
  /** Same oracle as the continuous streaming KMV cert. */
  val q341_sql: String = StreamingCertQueries.q264_sql

  /** q268's weighted priority SAMPLE under CHECKPOINT RECOVERY — the
    * forty-third streaming cert, TENTH recovery shape, and the first for
    * ORDER-STATISTICS state: the per-nation top-k (priority, id) winners
    * (the A-ES weighted-without-replacement sample) must survive the
    * restart. The top-k-by-total-order merge is commutative and
    * idempotent, so a correctly recovered run is indistinguishable — but
    * a winner list lost to the crash lets an inferior post-restart
    * candidate displace a pre-crash winner, and the final sample breaks
    * the hash against q125's batch sampler. Two of the four
    * (c_custkey)-ordered files process before the kill; the readout
    * takes each nation's max-`seen` emission (k bounded rows per nation
    * per batch) across both incarnations. A fair sample that outlives
    * any one executor is what makes always-on corpus sampling
    * operationally real. */
  val q344_recovery_priority: Q = (s, d) => {
    import s.implicits._
    val c = Tables.customer(s, d).where(col("c_acctbal") > 0)
      .select(col("c_custkey").cast("long").as("c_custkey"),
        col("c_nationkey").cast("long").as("c_nationkey"),
        round(col("c_acctbal") * 100, 0).cast("long").as("w_fp"))
      .withColumn("priority_fp",
        graft.llm.Sampling.priorityFp(col("c_custkey"), col("w_fp")))
      .select(col("c_nationkey"), col("c_custkey"), col("priority_fp"))
    val srcDir = stageOrderedBy(c, d, "customerPriOrdered4", 4,
      Seq(col("c_custkey")))
    recoveringTable(s, srcDir, firstN = 2, tag = "q344_rec_pri")(
      st => Streaming.priorityTopK(st.as[Streaming.PriObs], 3).toDF(),
      c.schema)
      // last batch per nation via ONE window over the (bounded: k rows
      // per nation per emission) sink frame
      .withColumn("mx",
        max(col("seen")).over(Window.partitionBy(col("c_nationkey"))))
      .where(col("seen") === col("mx"))
      .select(col("c_nationkey"), col("rk"), col("c_custkey"),
        col("priority_fp"))
      .orderBy(col("c_nationkey"), col("rk"))
  }
  /** Same winners, same total order → q125's batch oracle verbatim. */
  val q344_sql: String = StreamingCertQueries.q268_sql

  /** The k-anonymity gate under CHECKPOINT RECOVERY — the forty-fourth
    * streaming cert and the ELEVENTH recovery shape, extending the
    * durable-state family to the privacy audits: the live class census
    * (one (seen, count) pair per (event_type, day) equivalence class —
    * calendar-bounded state, the [[Streaming.gridCount]] monoid with the
    * sensitive axis pinned to 0) is killed after two of the four staged
    * files and resumed by a new incarnation from the same checkpoint.
    * Counts are a +-monoid, so the readout (each class's max-`seen`
    * emission across both incarnations) must equal the batch census —
    * and the k-anonymity verdict is EXACTLY the place where recovery
    * bugs surface loudest: a class count reset by a lost checkpoint
    * looks like a small, suppressible class, flipping viol_classes /
    * suppress_ppm against q346's batch oracle. The verdict half is
    * [[PrivacyQueries.kAnonymityFromClasses]], shared with the batch
    * query — only the census provenance differs. */
  val q354_recovery_kanon: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d).select(
      col("event_type").as("rf"),
      expr("datediff(cast(ts as date), date'1970-01-01')").cast("long")
        .as("a"),
      lit(0L).as("b"),
      unix_millis(col("ts")).as("tsm"),
      col("event_id").cast("long").as("event_id"))
    val srcDir = stageOrderedBy(ev, d, "eventsKanonOrdered4", 4,
      Seq(col("tsm"), col("event_id")))
    val cls = recoveringTable(s, srcDir, firstN = 2, tag = "q354_rec_kanon")(
      st => Streaming.gridCount(
        st.select(col("rf"), col("a"), col("b")).as[Streaming.CellObs]).toDF(),
      ev.schema)
      .groupBy(col("rf"), col("a"))
      .agg(max(struct(col("seen"), col("c"))).as("f"))
      .select(col("rf").as("g"),
        date_format(date_add(to_date(lit("1970-01-01")),
          col("a").cast("int")), "yyyy-MM-dd").as("day"),
        col("f.c").as("c"))
    PrivacyQueries.kAnonymityFromClasses(cls)
  }
  /** Same verdict, same census → q346's batch oracle verbatim. */
  val q354_sql: String = PrivacyQueries.q346_sql

  /** q356's HDR quantile registers under CHECKPOINT RECOVERY — the
    * forty-fifth streaming cert and the TWELFTH recovery shape: the
    * (count, min, max) register per (event_type, log-bucket) resumes
    * from the state store and keeps absorbing observations. All three
    * components are monoids, so the recovered registers — and every
    * percentile bracket the readout derives from them — must
    * hash-match q356's batch sketch exactly. This is the failure mode
    * that matters for a live percentile gauge: a register count reset
    * by a lost checkpoint shifts some bucket's cumulative rank and
    * silently moves a p99 into the wrong bucket, which the bracket
    * columns (lo/hi are registers too) make hash-visible. Two of the
    * four (g, b, v, event_id)-ordered files process before the kill;
    * the readout is each cell's max-`seen` emission across both
    * incarnations, fed to the SAME
    * [[HypothesisQueries.hdrQuantiles]] readout the batch query uses —
    * only the register provenance differs. */
  val q357_recovery_hdr: Q = (s, d) => {
    import s.implicits._
    // the fold is a pure monoid — insensitive to intra-file order — so
    // the staged split only has to be REPRODUCIBLE, which range-staging
    // on (g, b, v) makes it (duplicates land together; which file a
    // duplicate run straddles is fixed by the memoized staging).
    val staged = HypothesisQueries.hdrInput(s, d)
      .withColumn("lfp", graft.functions.Ilog2.ilog2(col("v")))
      .withColumn("b", expr("lfp div 8192"))
      .select(col("g"), col("b"), col("v"))
    val srcDir = stageOrderedBy(staged, d, "eventsHdrOrdered4", 4,
      Seq(col("g"), col("b"), col("v")))
    val reg = recoveringTable(s, srcDir, firstN = 2, tag = "q357_rec_hdr")(
      st => Streaming.hdrSketch(st.as[Streaming.HdrObs]).toDF(),
      staged.schema)
      .groupBy(col("g"), col("b"))
      .agg(max(struct(col("seen"), col("c"), col("lo"), col("hi"))).as("f"))
      .select(col("g"), col("b"), col("f.c").as("c"), col("f.lo").as("lo"),
        col("f.hi").as("hi"))
    HypothesisQueries.hdrQuantiles(s, reg)
  }
  /** Same registers, same readout → q356's batch oracle verbatim. */
  val q357_sql: String = HypothesisQueries.q356_sql

  /** The daily revenue register under CHECKPOINT RECOVERY, read out
    * through the Ljung–Box gate — the forty-sixth streaming cert and
    * THIRTEENTH recovery shape: [[Streaming.cellSum]] keeps one
    * (seen, Σcents) pair per (event_type, day) cell (calendar-bounded
    * state, the value-carrying sibling of the q354 census), killed
    * after two of the four staged files and resumed by a new
    * incarnation. Sums are a +-monoid, so the recovered daily frame —
    * and every autocorrelation and the Q statistic q362 derives from
    * it — must hash-match the batch oracle. This is the sharpest probe
    * of the register family: a single day's total shifted by a lost or
    * replayed batch perturbs EVERY lag's r_k through the shared mean
    * and denominator, so the whiteness verdict amplifies recovery bugs
    * the way the k-anonymity verdict amplifies census bugs. The readout
    * half is [[HypothesisQueries.ljungBox]], shared with the batch
    * query — only the daily-frame provenance differs. */
  val q369_recovery_dailysum: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d).select(
      col("event_type").as("rf"),
      expr("unix_millis(ts) div 86400000").as("a"),
      expr("cast(round(value * 100) as bigint)").as("v"),
      unix_millis(col("ts")).as("tsm"),
      col("event_id").cast("long").as("event_id"))
    val srcDir = stageOrderedBy(ev, d, "eventsDailySumOrdered4", 4,
      Seq(col("tsm"), col("event_id")))
    val daily = recoveringTable(s, srcDir, firstN = 2,
      tag = "q369_rec_dailysum")(
      st => Streaming.cellSum(st.select(col("rf"), col("a"), col("v"))
        .as[Streaming.CellSumObs]).toDF(),
      ev.schema)
      .groupBy(col("rf"), col("a"))
      .agg(max(struct(col("seen"), col("s"))).as("f"))
      .select(col("rf").as("g"), col("a").as("day"), col("f.s").as("c"))
    HypothesisQueries.ljungBox(daily)
  }
  /** Same series, same readout → q362's batch oracle verbatim. */
  val q369_sql: String = HypothesisQueries.q362_sql

  /** q375's SPRT census under CHECKPOINT RECOVERY — the forty-seventh
    * streaming cert and FOURTEENTH recovery shape: the sequential
    * test's sufficient statistic is the (type, day, x) census — one
    * count per cell, [[Streaming.gridCount]] with the binary
    * k < 50 indicator as the grid's b axis — and it must survive the
    * restart exactly, because the SPRT's WHOLE point is the first
    * crossing day: a single day's count shifted by a lost or replayed
    * batch moves the cumulative log-likelihood walk and can move (or
    * erase) the crossing — the decision the monitor acted on. Two of
    * the four (tsm, event_id)-ordered files process before the kill;
    * the readout is each cell's max-`seen` census fed to the SAME
    * [[HypothesisQueries.sprtFromDailyCounts]] walk with the same
    * Ilog2-derived constants; oracle verbatim q375's. */
  val q376_recovery_sprt: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d).select(
        col("event_type").as("rf"),
        expr("unix_millis(ts) div 86400000").as("a"),
        expr("""case when try_cast(get_json_object(props, '$.k') as long) < 50
          then 1L else 0L end""").as("b"),
        unix_millis(col("ts")).as("tsm"),
        col("event_id").cast("long").as("event_id"))
      // Filter on the CASTED long, matching q375's sprtCells exactly: a
      // props.k present but non-castable must be DROPPED here too, or
      // this cert would count it as n0 while q375 never sees it.
      .where(expr("try_cast(get_json_object(props, '$.k') as long)").isNotNull)
    val srcDir = stageOrderedBy(ev, d, "eventsSprtOrdered4", 4,
      Seq(col("tsm"), col("event_id")))
    val cells = recoveringTable(s, srcDir, firstN = 2, tag = "q376_rec_sprt")(
      st => Streaming.gridCount(
        st.select(col("rf"), col("a"), col("b")).as[Streaming.CellObs]).toDF(),
      ev.schema)
      .groupBy(col("rf"), col("a"), col("b"))
      .agg(max(struct(col("seen"), col("c"))).as("f"))
      .groupBy(col("rf").as("g"), col("a").as("day"))
      .agg(sum(when(col("b") === 1L, col("f.c")).otherwise(0L)).as("n1"),
        sum(when(col("b") === 0L, col("f.c")).otherwise(0L)).as("n0"))
    HypothesisQueries.sprtFromDailyCounts(cells,
      HypothesisQueries.SprtInc1, HypothesisQueries.SprtInc0,
      HypothesisQueries.SprtThr)
  }
  /** Same census, same walk, same constants → q375's oracle verbatim. */
  val q376_sql: String = HypothesisQueries.q375_sql

  /** q212's CUSUM sentinel under CHECKPOINT RECOVERY — the forty-eighth
    * streaming cert and FIFTEENTH recovery shape, the first of the
    * round-11 verdict's change-DETECTION trio: the alerting state a
    * production ingest most needs durable is precisely the monitor that
    * fires pages. One long of state per user (the running max(0, ·)
    * statistic); a restart that reset it to zero would silently swallow
    * an in-progress drift accumulation — the alarm would fire late or
    * never, and nothing downstream could tell. Two of the four
    * (tsm, event_id)-ordered files process before the kill; the resumed
    * incarnation must continue every user's statistic exactly, so the
    * union of emissions hash-matches q207's batch `list_reduce` oracle
    * row-for-row (Append mode: exactly-once per observation). */
  val q377_recovery_cusum: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d).select(
      col("user_id").cast("long").as("user_id"),
      unix_millis(col("ts")).as("tsm"),
      col("event_id").cast("long").as("event_id"),
      round(abs(col("value")) * 10000).cast("long").as("x"))
    val srcDir = stageOrderedBy(ev, d, "eventsTsOrdered4", 4,
      Seq(col("tsm"), col("event_id")))
    recoveringTable(s, srcDir, firstN = 2, tag = "q377_rec_cusum")(
      st => Streaming.cusumDrift(st.as[Streaming.KeyedObs],
        k = 5000L, h = 30000L).toDF(), ev.schema)
      .select(col("user_id"), col("event_id"), col("x"), col("cusum"),
        col("alarm"))
      .orderBy(col("event_id"))
  }
  /** Identical recurrence + replay order → q212's oracle verbatim. */
  val q377_sql: String = StreamingQueries.q212_sql

  /** q218's pattern DFA under CHECKPOINT RECOVERY — the forty-ninth
    * streaming cert and SIXTEENTH recovery shape: the one recovery probe
    * whose state is an AUTOMATON position, not a numeric register. The
    * packed long (completions·10 + stage) must resume exactly — a state
    * machine restarted at zero forgets a half-completed
    * view→click→purchase funnel, so every post-crash completion count
    * for that user shifts; unlike a numeric drift the error never decays.
    * Two of the four staged files process before the kill; union of
    * emissions must hash-match q210's batch fold oracle. */
  val q378_recovery_dfa: Q = (s, d) => {
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
    recoveringTable(s, srcDir, firstN = 2, tag = "q378_rec_dfa")(
      st => Streaming.patternDfa(st.as[Streaming.KeyedObs]).toDF(), ev.schema)
      .select(col("user_id"), col("event_id"), col("x"), col("dfa"))
      .withColumn("completions", expr("dfa div 10"))
      .withColumn("stage", col("dfa") % 10)
      .orderBy(col("event_id"))
  }
  /** Same automaton, same replay order → q218's (= q210's) oracle. */
  val q378_sql: String = StreamingQueries.q218_sql

  /** q188's composition-drift scoreboard under CHECKPOINT RECOVERY — the
    * fiftieth streaming cert and SEVENTEENTH recovery shape. q188's
    * continuous cert maintains the (tick, source) histogram as a
    * Complete-mode built-in aggregate, which the fault-tolerant file
    * sink refuses — so, per the q339-q341 register precedent, the
    * recovery form restructures the SAME histogram as an Append-mode
    * [[Streaming.gridCount]] register fold ((source, tick) cells, count
    * monoid) whose per-cell max-`seen` emission survives the restart.
    * Two of the four doc_id-ranged files process before the kill; the
    * recovered histogram feeds the SAME
    * [[graft.llm.Drift.perTickDrift]] readout against the batch-fit
    * reference, and must hash-match q188's all-batch oracle — a lost or
    * replayed batch shifts a tick's composition and its TVD. */
  val q379_recovery_drift: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.widen(Tables.documents(s, d))
      .select(col("doc_id"), col("source"))
    val srcDir = stageDocRanges(docs, d, "docsrc4")
    val hist = recoveringTable(s, srcDir, firstN = 2, tag = "q379_rec_drift")(
      st => Streaming.gridCount(st.select(
          col("source").as("rf"),
          expr("doc_id div 125").as("a"),
          lit(0L).as("b")).as[Streaming.CellObs]).toDF(),
      docs.schema)
      .groupBy(col("rf"), col("a"))
      .agg(max(struct(col("seen"), col("c"))).as("f"))
      .select(col("a").as("tick"), col("rf").as("value"),
        col("f.c").as("n"))
    val ref = Tables.documents(s, d)
      .groupBy(col("source").as("value"))
      .agg(count(lit(1)).as("n_ref"))
    graft.llm.Drift.perTickDrift(hist, ref)
      .orderBy(col("tick"))
  }
  /** Same histogram, same readout → q188's oracle verbatim. */
  val q379_sql: String = StreamingQueries.q188_sql

  /** q385's mixture weights under CHECKPOINT RECOVERY — the fifty-first
    * streaming cert and EIGHTEENTH recovery shape: the live form of
    * mixture planning keeps ONE durable register per source (cumulative
    * token count, a +-monoid via [[Streaming.cellSum]]) and derives the
    * √-temperature weights from the registers on demand. The restart
    * must not lose or replay a batch: the weights are a RATIO of
    * registers, so a single shifted count moves every source's weight
    * and boost — the readout feeds the SAME
    * [[LexicalQueries.sqrtMixtureFromCounts]] the batch query uses and
    * must hash-match q385's oracle verbatim. Two of the four
    * doc_id-ranged files process before the kill. */
  val q387_recovery_mixture: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.widen(Tables.documents(s, d))
      .select(col("doc_id"), col("source"),
        graft.llm.TextAnalysis.wsTokenCount(col("text")).as("tk"))
    val srcDir = stageDocRanges(docs, d, "doctok4")
    val counts = recoveringTable(s, srcDir, firstN = 2,
      tag = "q387_rec_mixture")(
      st => Streaming.cellSum(st.select(
          col("source").as("rf"), lit(0L).as("a"), col("tk").as("v"))
        .as[Streaming.CellSumObs]).toDF(),
      docs.schema)
      .groupBy(col("rf"))
      .agg(max(struct(col("seen"), col("s"))).as("f"))
      .select(col("rf").as("source"), col("f.s").as("n_tok"))
    LexicalQueries.sqrtMixtureFromCounts(counts)
  }
  /** Same registers, same readout → q385's oracle verbatim. */
  val q387_sql: String = LexicalQueries.q385_sql

  /** q383's Benford digit census under CHECKPOINT RECOVERY — the
    * fifty-second streaming cert and NINETEENTH recovery shape: the
    * forensic gate as an always-on monitor keeps one durable
    * (type, first-digit) count register ([[Streaming.gridCount]],
    * ≤ 9·|types| cells) and derives the χ² verdict on demand. The χ²
    * is quadratic in the cell counts, so a batch lost or replayed
    * across the restart moves the statistic quadratically — and a type
    * whose every value is below 1 must STILL surface its fail-closed
    * NULL row, which here crosses the batch/stream boundary: the
    * universe comes from the batch relation, the census from the
    * recovered registers. Oracle verbatim q383's. */
  val q390_recovery_benford: Q = (s, d) => {
    import s.implicits._
    val rel = Tables.events(s, d).select(col("event_type").as("g"),
      expr("cast(round(value * 100) as bigint)").as("v"),
      col("event_id").cast("long").as("event_id"))
    val srcDir = stageOrderedBy(rel, d, "eventsBenfordOrdered4", 4,
      Seq(col("event_id")))
    val digits = recoveringTable(s, srcDir, firstN = 2,
      tag = "q390_rec_benford")(
      st => Streaming.gridCount(st
          .where(col("v") >= 1L)
          .select(col("g").as("rf"),
            substring(col("v").cast("string"), 1, 1).cast("long").as("a"),
            lit(0L).as("b"))
        .as[Streaming.CellObs]).toDF(),
      rel.schema)
      .groupBy(col("rf"), col("a"))
      .agg(max(struct(col("seen"), col("c"))).as("f"))
      .select(col("rf").as("g"), col("a").as("dg"), col("f.c").as("o"))
    LexicalQueries.benfordFromDigits(rel.select(col("g")).distinct(), digits)
  }
  /** Same census, same readout → q383's oracle verbatim. */
  val q390_sql: String = LexicalQueries.q383_sql


  /** q123's streaming MinHash-LSH near-dup state under CHECKPOINT
    * RECOVERY — the TWENTIETH recovery shape, and the one the round-12
    * verdict called the single most load-bearing stateful operator in an
    * LLM ingest: [[Streaming.lshCandidateStream]]'s per-bucket member
    * list is the dedup register, and a restart that silently reset it
    * re-admits every subsequent duplicate — no pair fires, nothing
    * downstream can tell, and the training corpus quietly fills with
    * near-dups (the exact argument the q377 CUSUM docstring makes for
    * monitors, here for the ingest's admission control). Two of the four
    * doc_id-range files process before the kill; the resumed incarnation
    * must pair every post-crash arrival against the PRE-crash bucket
    * members exactly, so the union of emissions (Append mode through the
    * fault-tolerant parquet sink — exactly-once per pair) hash-matches
    * q23's batch LSH self-join oracle after the same oversized-bucket
    * post-filter as the continuous cert. A lost bucket list shows up as
    * MISSING pairs; a replayed batch as re-paired (then distinct-erased)
    * but also re-ADMITTED ids whose later pairs double — either way the
    * hash breaks. */
  val q394_recovery_lsh: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.widen(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val srcDir = stageOrderedBy(docs, d, "docsLshOrdered4", 4,
      Seq(col("doc_id")))
    val pairs = recoveringTable(s, srcDir, firstN = 2, tag = "q394_rec_lsh")(
      st => Streaming.lshCandidateStream(
        graft.llm.Dedup.bandBuckets(st, "text", "doc_id",
          LlmQueries.LshK, LlmQueries.LshBands)
          .as[graft.llm.BandBucket]).toDF(),
      docs.schema)
    // batch post-filter mirroring lshCandidatePairs' maxBucket=1000 cap,
    // verbatim from the continuous cert (q123): staged-signature band keys
    // instead of a second full shingle→8-hash pass per invocation
    val oversized = DocLsh.oversizedLshBuckets(s, d, 1000)
    pairs.join(oversized, Seq("band", "bkey"), "left_anti")
      .select(col("doc_a"), col("doc_b")).distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }
  /** q23's batch LSH oracle verbatim — same as the continuous cert. */
  val q394_sql: String = LlmQueries.oracles("q23_lsh_candidates")

  /** q146's streaming SimHash near-dup state under CHECKPOINT RECOVERY —
    * the TWENTY-FIRST recovery shape, completing the dedup-state pair:
    * same [[Streaming.lshCandidateStream]] register (per-bucket member
    * lists), but fed by the row-local 64-bit SimHash band keys at the
    * wide-band config (16-bit bands, Hamming ≤ 3 verification) and over
    * the half corpus, exactly like the continuous cert — the fingerprint
    * family's recovery story must hold independently of MinHash's
    * because production ingests run BOTH (shingle-set near-dups and
    * bit-flip near-dups fail differently). Two of the four doc_id-range
    * files process before the kill; readout = union of committed
    * emissions, oversize-bucket post-filter, exact Hamming verify —
    * hash-matched against the batch banding oracle verbatim. */
  val q395_recovery_simhash: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.widen(Tables.documents(s, d))
      .where(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("text"))
    val srcDir = stageOrderedBy(docs, d, "docsHalfSimOrdered4", 4,
      Seq(col("doc_id")))
    val pairs = recoveringTable(s, srcDir, firstN = 2,
      tag = "q395_rec_simhash")(
      st => Streaming.lshCandidateStream(
        graft.llm.Dedup.simhashBandBuckets(st, "text", "doc_id",
          bits = 64, bandBits = 16)
          .as[graft.llm.BandBucket]).toDF(),
      docs.schema)
    // post-filter + Hamming verify from the staged half-corpus
    // fingerprints, exactly like the continuous cert (q146)
    val fp = DocLsh.simhashFpHalf(s, d)
    val oversized = DocLsh.simhashBandKeys(fp, bits = 64, bandBits = 16)
      .groupBy(col("band"), col("bkey")).agg(count(lit(1)).as("n"))
      .where(col("n") > 1000)
      .select(col("band"), col("bkey"))
    pairs.join(oversized, Seq("band", "bkey"), "left_anti")
      .select(col("doc_a"), col("doc_b")).distinct()
      .join(fp.select(col("doc_id").as("doc_a"), col("simhash").as("sim_a")),
        Seq("doc_a"))
      .join(fp.select(col("doc_id").as("doc_b"), col("simhash").as("sim_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long")
          .as("hamming"))
      .where(col("hamming") <= 3)
      .orderBy(col("doc_a"), col("doc_b"))
  }
  /** q146's batch banding oracle verbatim — same as the continuous cert. */
  val q395_sql: String = StreamingQueries.q146_sql

  /** The ANN index state under CHECKPOINT RECOVERY — the TWENTY-SECOND
    * recovery shape, closing the round-13 verdict's remaining stateful
    * LLM-ingest asset: incremental IVF cell assignment. New vectors
    * arrive in micro-batches and are assigned against the FIXED coarse
    * quantizer (the first k = 8 embeddings by vec_id — q27's
    * ivfFixedCtes convention; `llm/Ivf.scala` assign semantics, here as
    * the literal-centroid narrow map the cluster-quality family uses, so
    * the streaming side needs no stream-static join). The recovered
    * state is the index DIRECTORY: [[Streaming.cellDirectory]]'s per-cell
    * cumulative vector counter, which stamps every admitted vector with
    * its position in the cell. Two of the four vec_id-range files process
    * before the kill; the resumed incarnation must continue every cell's
    * numbering where the crash left it — the readout takes `max(seq)` as
    * `n_vectors`, so a silently-reset counter (post-crash numbering
    * restarting at 1) undercounts and breaks the hash even though Append
    * emission itself deduplicates. Readout = q262's cell-quality frame
    * (count via the counter, mean/min fixed-point cosine-to-own-centroid
    * from the per-vector emissions), hash-matched against q262's batch
    * DuckDB oracle verbatim. */
  val q400_recovery_ivf: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val dim = graft.io.Stats.embeddingDim(s, d)
    val cents = ClusterQualityQueries.centroidLits(s, d)
    val srcDir = stageOrderedBy(emb, d, "embVecOrdered4", 4,
      Seq(col("vec_id")))
    def assignMap(st: DataFrame): DataFrame = {
      val scores: Seq[org.apache.spark.sql.Column] = cents.map {
        case (_, c, cn) =>
          graft.llm.Similarity.dot(col("embedding"), typedlit(c), dim) /
            (graft.llm.Similarity.norm(col("embedding"), dim) * lit(cn))
      }
      st.withColumn("__scores", array(scores: _*))
        .withColumn("__a", array_max(col("__scores")))
        // first max = ties to the LOWER cell, the NearestCell convention
        .select((array_position(col("__scores"), col("__a")) - 1)
            .cast("long").as("cell"),
          col("vec_id"),
          round(col("__a") * 1000000).cast("long").as("q"))
    }
    recoveringTable(s, srcDir, firstN = 2, tag = "q400_rec_ivf")(
      st => Streaming.cellDirectory(assignMap(st).as[Streaming.CellVec])
        .toDF(),
      emb.schema)
      .groupBy(col("cell"))
      .agg(max(col("seq")).as("n_vectors"),
        expr("sum(q) div max(seq)").as("mean_cos_fp"),
        min(col("q")).as("min_cos_fp"))
      .orderBy(col("cell"))
  }
  /** q262's batch cell-quality oracle verbatim. */
  val q400_sql: String = AnnQueries.q262_sql

  /** The VOCABULARY REGISTER under CHECKPOINT RECOVERY — the TWENTY-THIRD
    * recovery shape: q405's first-seen frame maintained incrementally by
    * [[Streaming.vocabRegister]] (one long of state per token; a token
    * emits exactly once, at first arrival). Two of the four doc_id-range
    * files process before the kill; the resumed incarnation must
    * remember every pre-crash token — a lost register re-emits
    * post-crash repeats and the exactly-once parquet sink surfaces them
    * as extra rows, so the emission union must equal the batch
    * `min(doc_id) per token` frame row-for-row. Tokens stream in
    * doc_id-ordered replay (stageOrderedBy), so each token's first batch
    * also holds its global minimum — the same convention the EWMA/HW
    * certs rely on. */
  val q408_recovery_vocab: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.widen(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val srcDir = stageOrderedBy(docs, d, "docsVocabOrdered4", 4,
      Seq(col("doc_id")))
    recoveringTable(s, srcDir, firstN = 2, tag = "q408_rec_vocab")(
      st => Streaming.vocabRegister(
        st.select(explode(graft.llm.TextAnalysis.tokens(col("text")))
            .as("tok"), col("doc_id"))
          .as[Streaming.TokDoc]).toDF(),
      docs.schema)
      .select(col("tok").as("token"), col("first_doc"))
      .orderBy(col("token"))
  }
  val q408_sql: String =
    """SELECT token, min(doc_id)::BIGINT AS first_doc
      |FROM (SELECT doc_id, unnest(list_filter(
      |        string_split_regex(lower(text), '\W+'), x -> x <> ''))
      |        AS token FROM documents)
      |GROUP BY 1 ORDER BY token""".stripMargin

  val defs: Map[String, Q] = Map(
    "q408_recovery_vocab" -> q408_recovery_vocab,
    "q400_recovery_ivf" -> q400_recovery_ivf,
    "q394_recovery_lsh" -> q394_recovery_lsh,
    "q395_recovery_simhash" -> q395_recovery_simhash,
    "q313_recovery_ewma" -> q313_recovery_ewma,
    "q314_recovery_hw" -> q314_recovery_hw,
    "q315_recovery_moments" -> q315_recovery_moments,
    "q322_recovery_sessions" -> q322_recovery_sessions,
    "q323_recovery_join" -> q323_recovery_join,
    "q335_recovery_kendall" -> q335_recovery_kendall,
    "q339_recovery_hll" -> q339_recovery_hll,
    "q340_recovery_cms" -> q340_recovery_cms,
    "q341_recovery_kmv" -> q341_recovery_kmv,
    "q344_recovery_priority" -> q344_recovery_priority,
    "q354_recovery_kanon" -> q354_recovery_kanon,
    "q357_recovery_hdr" -> q357_recovery_hdr,
    "q369_recovery_dailysum" -> q369_recovery_dailysum,
    "q376_recovery_sprt" -> q376_recovery_sprt,
    "q377_recovery_cusum" -> q377_recovery_cusum,
    "q378_recovery_dfa" -> q378_recovery_dfa,
    "q379_recovery_drift" -> q379_recovery_drift,
    "q387_recovery_mixture" -> q387_recovery_mixture,
    "q390_recovery_benford" -> q390_recovery_benford)

  val oracles: Map[String, String] = Map(
    "q408_recovery_vocab" -> q408_sql,
    "q400_recovery_ivf" -> q400_sql,
    "q394_recovery_lsh" -> q394_sql,
    "q395_recovery_simhash" -> q395_sql,
    "q313_recovery_ewma" -> q313_sql,
    "q314_recovery_hw" -> q314_sql,
    "q315_recovery_moments" -> q315_sql,
    "q322_recovery_sessions" -> q322_sql,
    "q323_recovery_join" -> q323_sql,
    "q335_recovery_kendall" -> q335_sql,
    "q339_recovery_hll" -> q339_sql,
    "q340_recovery_cms" -> q340_sql,
    "q341_recovery_kmv" -> q341_sql,
    "q344_recovery_priority" -> q344_sql,
    "q354_recovery_kanon" -> q354_sql,
    "q357_recovery_hdr" -> q357_sql,
    "q369_recovery_dailysum" -> q369_sql,
    "q376_recovery_sprt" -> q376_sql,
    "q377_recovery_cusum" -> q377_sql,
    "q378_recovery_dfa" -> q378_sql,
    "q379_recovery_drift" -> q379_sql,
    "q387_recovery_mixture" -> q387_sql,
    "q390_recovery_benford" -> q390_sql)
}
