package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.streaming.Streaming
import graft.queries.StreamingQueries._

/** Streaming certifications, continued — the later half of the streaming
  * registry (attribution, covisitation, sketch maintenance, concurrency,
  * KMV, Holt / Holt-Winters, priority sampling, the NB gate), split out of
  * [[StreamingQueries]] (round-9 maintainability: no non-test source file
  * over 2000 lines). Every cert here is one [[StreamingQueries.certTable]]
  * call; that continuous-cert harness and the staging harness (`Stage`,
  * `stageOrderedBy`, `withCertStatePartitions`) live in
  * [[StreamingQueries]] with package-private visibility, so staged replay
  * corpora remain memoized ACROSS the streaming registries. Contract
  * unchanged: each certification is a real multi-micro-batch run whose
  * final output hash-matches a batch DuckDB oracle.
  */
object StreamingCertQueries {

  type Q = (SparkSession, String) => DataFrame


  /** Stateful streaming last-touch attribution — the twentieth streaming
    * cert: [[Streaming.lastTouchAttribution]] carries each user's latest
    * view (two longs of state) across micro-batch boundaries and credits
    * purchases within the 30-minute lookback. Replays the staged
    * (tsm, event_id)-ordered files (its own memo — the type code differs
    * from q218's DFA alphabet), and the emitted purchases must hash-match
    * q220's batch IGNORE-NULLS-window oracle — certifying that the
    * unbounded attribution window really does collapse to |users|-bounded
    * carried state with no history rescan. */
  val q229_stream_attribution: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d).select(
      col("user_id").cast("long").as("user_id"),
      unix_millis(col("ts")).as("tsm"),
      col("event_id").cast("long").as("event_id"),
      when(col("event_type") === "view", 1L)
        .when(col("event_type") === "purchase", 2L)
        .otherwise(0L).as("x"))
    val srcDir = stageOrderedBy(ev, d, "eventsAttrOrdered4", 4,
      Seq(col("tsm"), col("event_id")))
    certTable(s, "q229_attr", Seq(srcDir -> ev.schema)) {
      case Seq(st) => Streaming.lastTouchAttribution(st.as[Streaming.KeyedObs],
        lookbackMs = 1800000L).toDF()
    }
      .select(col("user_id"), col("event_id"), col("view_id"),
        col("attributed"))
      .orderBy(col("event_id"))
  }
  /** Same oracle as the batch window query. */
  val q229_sql: String = AnalyticsQueries.q220_sql

  /** Stateful streaming co-visitation — the twenty-first streaming cert:
    * [[Streaming.covisitPairs]] carries a ring of each user's last 3
    * events and pairs every arrival against it (the batch lead-window's
    * lookahead read from the other end). The pair STREAM is what the
    * state machine emits; the final count is a batch aggregate over the
    * emitted pairs, and the whole thing must hash-match q228's batch
    * lead-window oracle — certifying that bounded O(k) per-user state
    * reproduces the window semantics with no history rescan. Event-type
    * codes ride KeyedObs.x (alphabetical: click=1 … view=5) and are
    * decoded back to names for oracle parity. */
  val q232_stream_covisit: Q = (s, d) => {
    import s.implicits._
    val types = Seq("click", "error", "purchase", "signup", "view")
    val code = types.zipWithIndex.foldLeft(lit(0L)) { case (acc, (t, i)) =>
      when(col("event_type") === t, lit(i + 1L)).otherwise(acc) }
    val ev = Tables.events(s, d).select(
      col("user_id").cast("long").as("user_id"),
      unix_millis(col("ts")).as("tsm"),
      col("event_id").cast("long").as("event_id"),
      code.as("x"))
    val srcDir = stageOrderedBy(ev, d, "eventsCovisitOrdered4", 4,
      Seq(col("tsm"), col("event_id")))
    val pairs = certTable(s, "q232_cov", Seq(srcDir -> ev.schema)) {
      case Seq(st) => Streaming.covisitPairs(st.as[Streaming.KeyedObs],
        lookbackMs = 1800000L, k = 3).toDF()
    }
    def decode(c: org.apache.spark.sql.Column) =
      types.zipWithIndex.foldLeft(lit("?")) { case (acc, (t, i)) =>
        when(c === (i + 1L), lit(t)).otherwise(acc) }
    pairs
      .select(decode(col("a")).as("a"), decode(col("b")).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("a"), col("b"))
  }
  /** Same oracle as the batch lead-window query. */
  val q232_sql: String = GraphQueries.q228_sql

  /** Stateful streaming HyperLogLog — the twenty-second streaming cert:
    * [[Streaming.hllSketch]] keeps ONE m-byte register array per week in
    * the state store and folds pre-hashed (j, rho) arrivals in by
    * register max; the replay's final per-week row must reproduce the
    * estimate the batch rollup (q227) computes from the same registers —
    * certifying the live-dashboard distinct-count shape: constant state
    * per key, order-insensitive updates (micro-batch boundaries can't
    * change the answer), estimates hash-exact against the SQL replay. */
  val q234_stream_hll: Q = (s, d) => {
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
    certTable(s, "q234_hll", Seq(srcDir -> ev.schema)) {
      case Seq(st) => Streaming.hllSketch(st.as[Streaming.HllObs], m, bits).toDF()
    }
      .groupBy(col("week"))
      .agg(max(struct(col("seen"), col("s"), col("zero_registers"))).as("f"))
      .select(col("week"), col("f.seen").as("n_events"),
        (lit(graft.llm.Hll.numerator(m)) / col("f.s")).as("hll_estimate"),
        col("f.zero_registers"))
      .orderBy(col("week"))
  }
  val q234_sql: String = {
    val m = 256
    val bits = graft.llm.Hll.rhoBits(m)
    s"""WITH e AS (SELECT epoch_ms(ts) // 86400000 // 7 AS week, user_id,
       |             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS hv
       |           FROM events),
       |jr AS (SELECT week, hv % $m AS j,
       |          CASE WHEN instr(lpad(bin(hv // $m), $bits, '0'), '1') = 0 THEN ${bits + 1}
       |               ELSE instr(lpad(bin(hv // $m), $bits, '0'), '1') END AS rho
       |       FROM e),
       |wr AS (SELECT week, j, max(rho) AS mx FROM jr GROUP BY 1, 2),
       |grid AS (SELECT w.week, sp.j
       |         FROM (SELECT DISTINCT week FROM wr) w,
       |              (SELECT unnest(range($m)) AS j) sp),
       |regs AS (SELECT grid.week, CAST(coalesce(wr.mx, 0) AS INTEGER) AS m
       |         FROM grid LEFT JOIN wr ON grid.week = wr.week AND grid.j = wr.j),
       |agg AS (SELECT week,
       |          CAST(sum(1::BIGINT << (${bits + 1} - m)) AS BIGINT) AS s,
       |          CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_registers
       |        FROM regs GROUP BY 1),
       |ne AS (SELECT week, count(*)::BIGINT AS n_events FROM e GROUP BY 1)
       |SELECT ne.week, n_events,
       |       CAST(${graft.llm.Hll.numerator(m)} AS DOUBLE) / s AS hll_estimate,
       |       zero_registers
       |FROM ne JOIN agg USING (week) ORDER BY week""".stripMargin
  }

  /** Stateful streaming CMS join-size — the twenty-third streaming cert:
    * [[Streaming.cmsRowSquares]] keeps the d×w Count-Min counters in the
    * state store (keyed by hash row) while lineitem part keys stream
    * through pre-bucketed, and the final min-over-rows Σcounter² must
    * hash-match q235's batch sketch estimate — certifying that the
    * join-size readout a streaming optimizer consults is EXACTLY the
    * batch sketch at every point in the stream (increments commute, so
    * batch boundaries are invisible). The exact Σc² comparison side is
    * computed in batch from the same table, as in q235. */
  val q239_stream_cms: Q = (s, d) => {
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
    val est = certTable(s, "q239_cms", Seq(srcDir -> obs.schema)) {
      case Seq(st) => Streaming.cmsRowSquares(st.as[Streaming.CmsObs], width).toDF()
    }
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
  /** Same oracle as the batch sketch estimate. */
  val q239_sql: String = SketchQueries.q235_sql

  /** Stateful streaming max-concurrency — the twenty-fourth streaming
    * cert: [[Streaming.concurrencyPeak]] sweeps the same +1/−1 interval
    * deltas as q245's batch prefix sum with three longs of state per
    * event type, and the final per-key row must hash-match the batch
    * peak/first-instant oracle — certifying the live session-gauge
    * shape. Event types ride the key as codes (alphabetical, as q232)
    * and decode for oracle parity; the staged order is the sweep order
    * (t, delta, event_id) so closes replay before opens per instant. */
  val q246_stream_concurrency: Q = (s, d) => {
    import s.implicits._
    val types = Seq("click", "error", "purchase", "signup", "view")
    val code = types.zipWithIndex.foldLeft(lit(0L)) { case (acc, (t, i)) =>
      when(col("event_type") === t, lit(i + 1L)).otherwise(acc) }
    val ev = Tables.events(s, d).select(code.as("k"),
      unix_millis(col("ts")).as("tsm"),
      col("event_id").cast("long").as("event_id"))
    val deltas = ev.select(col("k").as("user_id"), col("tsm"),
        lit(1L).as("x"), col("event_id"))
      .unionAll(ev.select(col("k").as("user_id"),
        (col("tsm") + 1800000L).as("tsm"), lit(-1L).as("x"),
        col("event_id")))
    val srcDir = stageOrderedBy(deltas, d, "eventsConcOrdered4", 4,
      Seq(col("tsm"), col("x"), col("event_id")))
    val peaks = certTable(s, "q246_conc", Seq(srcDir -> deltas.schema)) {
      case Seq(st) => Streaming.concurrencyPeak(st.as[Streaming.KeyedObs]).toDF()
    }
    def decode(c: org.apache.spark.sql.Column) =
      types.zipWithIndex.foldLeft(lit("?")) { case (acc, (t, i)) =>
        when(c === (i + 1L), lit(t)).otherwise(acc) }
    peaks
      .groupBy(col("key"))
      .agg(max(struct(col("seen"), col("peak"), col("t_at_peak"))).as("f"))
      .select(decode(col("key")).as("event_type"),
        col("f.peak").as("peak"), col("f.t_at_peak").as("t_at_peak"))
      .orderBy(col("event_type"))
  }
  /** Same oracle as the batch sweep. */
  val q246_sql: String = AnalyticsQueries.q245_sql

  /** The twenty-fifth streaming certification — a LIVE per-source KMV
    * distinct-token sketch ([[Streaming.kmvSketch]]): ≤ 64 longs of state
    * per source maintained across micro-batches by a commutative,
    * idempotent k-min-set merge, so the final (m, t) registers — and the
    * integral estimate `(k−1)·2³² div t` — must equal the batch KMV
    * ([[graft.operators.Kmv]], q215/q259's sketch) exactly, which is what
    * the oracle replays. The streaming form of the sketch algebra family:
    * union-mergeable state, live cardinality readout per batch. */
  val q264_stream_kmv: Q = (s, d) => {
    import s.implicits._
    val k = 64
    val toks = Tables.documents(s, d)
      .select(col("doc_id").cast("long").as("doc_id"), col("source"),
        explode(graft.llm.TextAnalysis.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("source"),
        graft.operators.Kmv.hash32(col("tok")).as("h"))
    val srcDir = stageOrderedBy(toks, d, "docsKmvOrdered4", 4,
      Seq(col("doc_id"), col("h")))
    certTable(s, "q264_kmv", Seq(srcDir -> toks.schema)) {
      case Seq(st) => Streaming.kmvSketch(st.as[Streaming.KmvObs], k).toDF()
    }
      .groupBy(col("source"))
      .agg(max(struct(col("seen"), col("m"), col("t"))).as("f"))
      .select(col("source"), col("f.seen").as("n_obs"),
        when(col("f.m") < k, col("f.m"))
          .otherwise(expr(s"((${k - 1}) * 4294967296) div greatest(f.t, 1)"))
          .as("n_distinct_est"))
      .orderBy(col("source"))
  }
  val q264_sql: String =
    """WITH toks AS (SELECT source,
      |    unnest(list_filter(string_split_regex(lower(text), '\W+'),
      |           x -> x <> '')) AS tok
      |  FROM documents),
      |cnt AS (SELECT source, count(*)::BIGINT AS n_obs FROM toks GROUP BY 1),
      |hs AS (SELECT DISTINCT source,
      |         ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM toks),
      |r AS (SELECT source, h,
      |        row_number() OVER (PARTITION BY source ORDER BY h) AS r FROM hs),
      |sk AS (SELECT source, count(*)::BIGINT AS m, max(h) AS t
      |       FROM r WHERE r <= 64 GROUP BY 1)
      |SELECT source, n_obs,
      |  (CASE WHEN m < 64 THEN m
      |        ELSE (63 * 4294967296) // greatest(t, 1) END)::BIGINT
      |    AS n_distinct_est
      |FROM cnt JOIN sk USING (source) ORDER BY source""".stripMargin

  /** The twenty-sixth streaming certification — LIVE Holt trend-adjusted
    * smoothing ([[Streaming.holtTrend]]): q257's coupled (level, trend)
    * integer recurrence carried across micro-batch boundaries with two
    * longs of state per key, certified row-for-row against the same
    * list-of-lists `list_reduce` oracle as the batch fold. The
    * always-on forecasting sentinel: no history rescan, |keys|-bounded
    * state, signed inputs under verified truncating division. */
  val q265_stream_holt: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d).select(
      col("user_id").cast("long").as("user_id"),
      unix_millis(col("ts")).as("tsm"),
      col("event_id").cast("long").as("event_id"),
      round(col("value") * 10000).cast("long").as("x"))
    val srcDir = stageOrderedBy(ev, d, "eventsTsSignedOrdered4", 4,
      Seq(col("tsm"), col("event_id")))
    certTable(s, "q265_holt", Seq(srcDir -> ev.schema)) {
      case Seq(st) => Streaming.holtTrend(st.as[Streaming.KeyedObs]).toDF()
    }
      .select(col("user_id"), col("event_id"), col("x"), col("level"),
        col("trend"))
      .orderBy(col("event_id"))
  }
  /** Identical recurrence, identical staged order → q257's batch oracle. */
  val q265_sql: String = ForecastQueries.q257_sql

  /** The twenty-seventh streaming certification — LIVE weighted-priority
    * top-3 sampling per nation ([[Streaming.priorityTopK]]): q125's A-ES
    * weighted-without-replacement sample maintained across micro-batches
    * with 2k longs of state per key (the winners, never the population).
    * The top-k-by-total-order merge is commutative and idempotent, so
    * the final sample equals the batch window's under any batch split —
    * certified against q125's own oracle. */
  val q268_stream_priority_sample: Q = (s, d) => {
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
    val samples = certTable(s, "q268_pri", Seq(srcDir -> c.schema)) {
      case Seq(st) => Streaming.priorityTopK(st.as[Streaming.PriObs], 3).toDF()
    }
    // last batch per nation via ONE window over the (bounded: k rows per
    // nation per batch) memory table — a self-join would conflict on the
    // memory sink's attributes
    samples
      .withColumn("mx",
        max(col("seen")).over(Window.partitionBy(col("c_nationkey"))))
      .where(col("seen") === col("mx"))
      .select(col("c_nationkey"), col("rk"), col("c_custkey"),
        col("priority_fp"))
      .orderBy(col("c_nationkey"), col("rk"))
  }
  /** Same winners, same total order → q125's batch oracle verbatim. */
  val q268_sql: String = CurationQueries.q125_sql

  /** The twenty-eighth streaming certification — the trained Naive Bayes
    * language classifier DEPLOYED on the document ingest stream
    * ([[graft.llm.NaiveBayes.classifyLiteral]]): the model (q273's
    * chi-square-selected vocabulary + Laplace fixed-point weights) is fit
    * batch-side, collected under the bounded gate-config budget
    * (|V'| x |langs| rows), inlined as literal map/array columns, and
    * every arriving document is scored ROW-LOCALLY — no aggregate, no
    * state, no shuffle (the q173 stateless-gate shape). Streamed
    * per-document predictions must hash-match the batch scoring chain's
    * argmax (q274's `sc`/`best` CTEs) including the −score/label
    * tie-break. */
  val q278_stream_nb: Q = (s, d) => {
    val docs = Tables.widen(Tables.documents(s, d))
      .select(col("doc_id"), col("lang"), col("text"))
    val (langs, priors, weights) = InfoQueries.nbModelLiteral(s, d)
    val srcDir = stageDocRanges(docs, d, "docslang4")
    certTable(s, "q278_nb", Seq(srcDir -> docs.schema)) {
      case Seq(st) => graft.llm.NaiveBayes
        .classifyLiteral(st, "text", "doc_id", langs, priors, weights,
          passCols = Seq("lang"))
    }
      .select(col("doc_id"), col("lang"), col("pred_lang"), col("score_fp"))
      .orderBy(col("doc_id"))
  }

  val q278_sql: String =
    s"""WITH ${InfoQueries.nbCtes},
      |pri AS (SELECT DISTINCT lang AS pred_lang, prior_fp FROM model),
      |dtc AS (SELECT doc_id, tok, count(*)::BIGINT AS n_t
      |        FROM tk JOIN sel USING (tok) GROUP BY 1, 2),
      |contrib AS (SELECT dtc.doc_id, m.lang AS pred_lang,
      |              sum(dtc.n_t * m.w_fp)::BIGINT AS tok_fp
      |            FROM dtc JOIN model m USING (tok) GROUP BY 1, 2),
      |sc AS (SELECT d.doc_id, d.lang, pri.pred_lang,
      |         (pri.prior_fp + coalesce(contrib.tok_fp, 0))::BIGINT AS score
      |       FROM documents d CROSS JOIN pri
      |       LEFT JOIN contrib ON contrib.doc_id = d.doc_id
      |                        AND contrib.pred_lang = pri.pred_lang)
      |SELECT doc_id, lang, pred_lang, score AS score_fp FROM sc
      |QUALIFY row_number() OVER (PARTITION BY doc_id
      |                           ORDER BY score DESC, pred_lang ASC) = 1
      |ORDER BY doc_id""".stripMargin

  /** The twenty-ninth streaming certification — LIVE Holt–Winters
    * ([[Streaming.holtWintersStream]]): q279's weekly-seasonal triple
    * recurrence maintained across micro-batch boundaries with m + 3
    * longs of state per series (level, trend, step counter, 7-slot
    * seasonal ring). The daily series is staged in day order
    * (repartitionByRange + mtime sequencing), so the streamed fold
    * replays the batch fold exactly — certified against q279's own
    * list_reduce oracle verbatim. */
  val q284_stream_hw: Q = (s, d) => {
    import s.implicits._
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"),
        expr("unix_millis(ts) div 86400000").as("day"))
      .agg(count(lit(1)).as("x"))
    val srcDir = stageOrderedBy(daily, d, "dailyTypeCounts4", 4,
      Seq(col("day"), col("event_type")))
    certTable(s, "q284_hw", Seq(srcDir -> daily.schema)) {
      case Seq(st) => Streaming.holtWintersStream(st.as[Streaming.HwObs], m = 7).toDF()
    }
      .select(col("event_type"), col("day"), col("x"), col("level"),
        col("trend"), col("seas"))
      .orderBy(col("event_type"), col("day"))
  }
  /** Identical recurrence, identical staged order → q279's batch oracle. */
  val q284_sql: String = ForecastQueries.q279_sql
  /** Stateful streaming cohort retention — the thirtieth streaming cert:
    * [[Streaming.cohortRetention]] carries TWO longs per user (cohort
    * week + 64-bit seen-offset bitmask) across micro-batch boundaries
    * and emits each (cohort, offset) cell exactly once per user; the
    * final batch count over the emitted cells must hash-match q292's
    * batch `min(week)` + distinct-count oracle — certifying that the
    * retention triangle, which in batch needs a corpus-wide distinct and
    * a user-keyed min, collapses to bounded per-user state under
    * event-time-ordered replay. The epoch week rides KeyedObs.x. */
  val q295_stream_retention: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d).select(
      col("user_id").cast("long").as("user_id"),
      unix_millis(col("ts")).as("tsm"),
      col("event_id").cast("long").as("event_id"),
      expr("unix_millis(ts) div 604800000").as("x"))
    val srcDir = stageOrderedBy(ev, d, "eventsRetentionOrdered4", 4,
      Seq(col("tsm"), col("event_id")))
    val cells = certTable(s, "q295_ret", Seq(srcDir -> ev.schema)) {
      case Seq(st) => Streaming.cohortRetention(st.as[Streaming.KeyedObs]).toDF()
    }
    // cells are unique per user by construction, so count(*) per cell is
    // the distinct-user count the batch oracle computes
    cells
      .groupBy(col("cohort_week"), col("offset_weeks"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_week"), col("offset_weeks"))
  }
  /** Same oracle as the batch retention triangle. */
  val q295_sql: String = ForecastQueries.q292_sql

  /** Stateful streaming FUNNEL certification — the thirty-first streaming
    * cert: [[Streaming.funnelDepth]] carries each user's greedy funnel
    * state (depth + last-advance micros, two longs) across four
    * (tsm, x, event_id)-ordered micro-batches — the SAME (t, stage)
    * order the batch [[graft.operators.Funnel.depth]] `sort_array` fold
    * walks, so the cross-batch replay extends the within-batch order and
    * the greedy matching is the identical function. Timestamps ride
    * MICROS (the batch fold's `unix_micros` resolution — millis would
    * merge distinct instants and break the strict `ts > prev` rule).
    * Depth is monotone, so `max` over the per-batch emissions is the
    * final depth; must hash-match q111's stage-chained batch oracle. */
  val q303_stream_funnel: Q = (s, d) => {
    import s.implicits._
    val stages = Seq("view", "click", "purchase")
    val ev = Tables.events(s, d)
      .where(col("event_type").isin(stages: _*))
      .select(
        col("user_id").cast("long").as("user_id"),
        unix_micros(col("ts")).as("tsm"),
        col("event_id").cast("long").as("event_id"),
        when(col("event_type") === "view", 0L)
          .when(col("event_type") === "click", 1L)
          .otherwise(2L).as("x"))
    val srcDir = stageOrderedBy(ev, d, "eventsFunnelOrdered4", 4,
      Seq(col("tsm"), col("x"), col("event_id")))
    certTable(s, "q303_fun", Seq(srcDir -> ev.schema)) {
      case Seq(st) =>
        Streaming.funnelDepth(st.as[Streaming.KeyedObs], stages.size).toDF()
    }
      .groupBy(col("user_id"))
      .agg(max(col("funnel_depth")).as("funnel_depth"))
      .orderBy(col("user_id"))
  }
  /** Same oracle as the batch funnel. */
  val q303_sql: String = AnalyticsQueries.q111_sql

  /** The thirty-second streaming certification — a LIVE per-type MOMENTS
    * sketch ([[Streaming.momentsSketch]]): four longs of state per event
    * type (n, Σv, Σv², Σv³) maintained across micro-batch boundaries by
    * the +-monoid merge, certified against a direct batch aggregate over
    * the same rows — the streaming half of q306's mergeability story
    * (q306 proves day-partials → week ≡ direct; this proves
    * micro-batches → total ≡ direct). Values in WHOLE units (cents
    * would put Σv³ within 10³ of BIGINT overflow at sf0.1 row counts;
    * the fold's Math.multiplyExact guard makes that a fail-fast, not a
    * wrap). Final readout per key = max(seen) batch; the derived
    * mean/variance ppm divisions replay exactly in HUGEINT. */
  val q307_stream_moments: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d).select(
      col("event_type"),
      round(col("value")).cast("long").as("v"),
      col("event_id").cast("long").as("event_id"))
    val srcDir = stageOrderedBy(ev, d, "eventsMomOrdered4", 4,
      Seq(col("event_type"), col("v"), col("event_id")))
    certTable(s, "q307_mom", Seq(srcDir -> ev.schema)) {
      case Seq(st) => Streaming.momentsSketch(st.as[Streaming.MomObs]).toDF()
    }
      .groupBy(col("event_type"))
      .agg(max(struct(col("seen"), col("s1"), col("s2"), col("s3"))).as("f"))
      .select(col("event_type"), col("f.seen").as("n_obs"),
        col("f.s1").as("s1"), col("f.s2").as("s2"), col("f.s3").as("s3"))
      // derived algebra in DECIMAL(38,0) like q306 — (n·s2 − s1²)·10⁶
      // passes 2⁶³ around n ≈ 2·10⁵ per key even though the state longs
      // themselves are nowhere near overflow (the oracle is HUGEINT)
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
  val q307_sql: String =
    """WITH e AS (SELECT event_type, CAST(round(value) AS BIGINT) AS v
      |           FROM events),
      |a AS (SELECT event_type, count(*)::HUGEINT AS n,
      |        sum(v)::HUGEINT AS s1, sum(v * v)::HUGEINT AS s2,
      |        sum(v * v * v)::HUGEINT AS s3
      |      FROM e GROUP BY 1)
      |SELECT event_type, n::BIGINT AS n_obs, s1::BIGINT AS s1,
      |       s2::BIGINT AS s2, s3::BIGINT AS s3,
      |       ((s1 * 1000000) // n)::BIGINT AS mean_ppm,
      |       (((n * s2 - s1 * s1) * 1000000) // (n * n))::BIGINT AS var_ppm
      |FROM a ORDER BY event_type""".stripMargin

  /** The thirty-eighth streaming certification — a LIVE Kendall τ-b: the
    * (rf, qty, discount) contingency grid is a +-monoid (per-cell counts),
    * so the state store maintains it as a built-in streaming aggregate in
    * Complete mode across micro-batch boundaries, and q327's
    * [[EvalQueries.kendallFromGrid]] readout runs UNCHANGED on the final
    * state — certifying the operator's core scale claim: the grid is the
    * whole sufficient statistic for rank concordance, so batch scan,
    * micro-batched arrival, or shard merge order cannot change τ. Must
    * hash-match q327's batch oracle exactly. */
  val q333_stream_kendall: Q = (s, d) => {
    val li = Tables.lineitem(s, d).select(
      col("l_returnflag").as("rf"),
      col("l_quantity").cast("long").as("a"),
      expr("cast(round(l_discount * 100) as bigint)").as("b"),
      col("l_orderkey").cast("long").as("ok"),
      col("l_linenumber").cast("long").as("ln"))
    val srcDir = stageOrderedBy(li, d, "liKendallOrdered4", 4,
      Seq(col("ok"), col("ln")))
    val grid = certTable(s, "q333_ken", Seq(srcDir -> li.schema), "complete") {
      case Seq(st) => st
        .groupBy(col("rf"), col("a"), col("b"))
        .agg(count(lit(1)).as("c"))
    }
    EvalQueries.kendallFromGrid(
      grid.select(col("rf"), col("a"), col("b"), col("c")))
  }
  /** Same oracle as the batch grid τ-b. */
  val q333_sql: String = EvalQueries.q327_sql

  val defs: Map[String, Q] = Map(
    "q229_stream_attribution" -> q229_stream_attribution,
    "q232_stream_covisit" -> q232_stream_covisit,
    "q234_stream_hll" -> q234_stream_hll,
    "q239_stream_cms" -> q239_stream_cms,
    "q246_stream_concurrency" -> q246_stream_concurrency,
    "q264_stream_kmv" -> q264_stream_kmv,
    "q265_stream_holt" -> q265_stream_holt,
    "q268_stream_priority_sample" -> q268_stream_priority_sample,
    "q278_stream_nb" -> q278_stream_nb,
    "q284_stream_hw" -> q284_stream_hw,
    "q295_stream_retention" -> q295_stream_retention,
    "q303_stream_funnel" -> q303_stream_funnel,
    "q307_stream_moments" -> q307_stream_moments,
    "q333_stream_kendall" -> q333_stream_kendall)

  val oracles: Map[String, String] = Map(
    "q229_stream_attribution" -> q229_sql,
    "q232_stream_covisit" -> q232_sql,
    "q234_stream_hll" -> q234_sql,
    "q239_stream_cms" -> q239_sql,
    "q246_stream_concurrency" -> q246_sql,
    "q264_stream_kmv" -> q264_sql,
    "q265_stream_holt" -> q265_sql,
    "q268_stream_priority_sample" -> q268_sql,
    "q278_stream_nb" -> q278_sql,
    "q284_stream_hw" -> q284_sql,
    "q295_stream_retention" -> q295_sql,
    "q303_stream_funnel" -> q303_sql,
    "q307_stream_moments" -> q307_sql,
    "q333_stream_kendall" -> q333_sql)
}
