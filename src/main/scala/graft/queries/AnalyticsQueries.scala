package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Functions._
import graft.io.Tables
import graft.operators.BloomPrefilter
import graft.transform.Star
import graft.queries.RelationalQueries._

/** windowed, sessionized, and sequence analytics — split from the monolithic query registry
  * (round-8 maintainability); shared oracle-SQL helpers stay in the
  * origin object(s) (RelationalQueries) with
  * package-private visibility. Same contract as every registry:
  * each `q<N>_<name>` query has a DuckDB `q<N>_sql` twin with identical
  * column names and deterministic ordering. */
object AnalyticsQueries extends Registry {

  // --------------------------------------------------- O34 batch analog
  /** Hourly tumbling-window counts over the events table — the batch analog
    * of the streaming pipeline in `graft.streaming` (timestamps rendered as
    * strings for cross-engine value parity). */
  val q17_window_events: Q = (s, d) => {
    val e = Tables.events(s, d)
    e.groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
              col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy(col("hour"), col("event_type"))
  }

  val q17_sql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
      |       count(*) AS n,
      |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin


  // --------------------------------------------------- window functions
  /** Analytic windows: per-user ordering, rank and running sum (frame-order
    * summation is identical across engines, so exact doubles match). */
  val q18_window_funcs: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, d)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    e.select(col("user_id"), col("event_id"),
        row_number().over(w).cast("long").as("rn"),
        sum(col("value").cast("decimal(18,4)")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running_value"))
      .orderBy(col("user_id"), col("rn"))
  }

  val q18_sql: String =
    """SELECT user_id, event_id,
      |       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
      |       CAST(sum(CAST(value AS DECIMAL(18,4))) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
      |FROM events ORDER BY user_id, rn""".stripMargin


  // ------------------------------------------- sessionization (batch windows)
  /** Gap-based sessionization as pure window functions — the batch/SQL
    * analog of `graft.streaming.Streaming.sessionize`: a session breaks
    * after 30 idle minutes; session ids are per-user cumulative sums of the
    * break flag. */
  val q32_sessions: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, d)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapMs = 30 * 60 * 1000L
    val flagged = e.withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
          (unix_millis(col("ts")) - unix_millis(col("prev_ts"))) > gapMs, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged.groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
           date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
           dsum(col("value")).as("total_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  val q32_sql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, value, ts,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                   OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
      |              THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT user_id, value, ts,
      |         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |       count(*) AS n_events,
      |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |FROM sessions GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin


  // --------------------------------------------------------- top-N per group
  /** Per-group top-3 (rank-and-filter window pattern). */
  val q33_topn_per_group: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, d)
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).cast("long").as("rank"))
      .where(col("rank") <= 3)
      .orderBy(col("o_orderpriority"), col("rank"))
  }

  val q33_sql: String =
    """SELECT o_orderpriority, o_orderkey, o_totalprice, rank FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_orderpriority
      |                            ORDER BY o_totalprice DESC, o_orderkey) AS rank
      |  FROM orders)
      |WHERE rank <= 3 ORDER BY o_orderpriority, rank""".stripMargin


  // ------------------------------------------------- salted aggregation
  /** [[graft.operators.Skew.saltedAgg]] end-to-end against the oracle a
    * PLAIN groupBy would use: the two-phase (key, salt) partial → key merge
    * decomposition must be algebraically invisible. Counts merge as sums;
    * the double sum stays in DECIMAL through BOTH phases (re-association is
    * exact), surfacing as DOUBLE only at the end. l_returnflag has 3
    * distinct values over the whole fact table — exactly the hot-key shape
    * where one reducer would otherwise take the entire skew. */
  val q76_salted_agg: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    graft.operators.Skew.saltedAgg(li, Seq("l_returnflag"), 16,
        partial = Seq(count(lit(1)).as("__n"),
          sum(col("l_quantity").cast("decimal(18,4)")).as("__q")),
        merge = Seq(sum(col("__n")).as("n"),
          sum(col("__q")).cast("double").as("sum_qty")))
      .orderBy(col("l_returnflag"))
  }

  val q76_sql: String =
    """SELECT l_returnflag, count(*) AS n,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin


  // --------------------------------------------- analytic window battery
  /** The full analytic-window surface in one query: lag/lead offsets,
    * ntile bucketing, percent_rank and cume_dist — all over one
    * (user, time) window, so Spark evaluates them in a single Window node
    * after one hash-partition shuffle. The unique (ts, event_id) ordering
    * makes every function deterministic; percent_rank's
    * (rank-1)/(n-1) double division is the same expression both engines. */
  val q77_window_analytics: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, d)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    e.select(col("user_id"), col("event_id"),
        lag(col("event_id"), 1).over(w).as("prev_id"),
        lead(col("event_id"), 1).over(w).as("next_id"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val q77_sql: String =
    """SELECT user_id, event_id,
      |       lag(event_id, 1) OVER w AS prev_id,
      |       lead(event_id, 1) OVER w AS next_id,
      |       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      |       percent_rank() OVER w AS pct_rank,
      |       cume_dist() OVER w AS cume
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, event_id""".stripMargin


  // ------------------------------------------------------------- funnel
  /** Per-user ordered funnel (view → click → purchase) over `events` —
    * [[graft.operators.Funnel.depth]]'s single-shuffle greedy fold. The
    * oracle computes the same funnel the relational way (stage-by-stage
    * `min(ts) > prev` chaining with left joins); greedy earliest-first
    * matching is provably the same function, so the two must hash-match. */
  val q111_funnel: Q = (s, d) =>
    graft.operators.Funnel.depth(
        Tables.events(s, d), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .orderBy(col("user_id"))

  val q111_sql: String =
    """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1),
      |     c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN v ON e.user_id = v.user_id
      |           WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
      |     p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN c ON e.user_id = c.user_id
      |           WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1),
      |     base AS (SELECT DISTINCT user_id FROM events
      |              WHERE event_type IN ('view', 'click', 'purchase'))
      |SELECT b.user_id,
      |       CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
      |                 WHEN c.user_id IS NOT NULL THEN 2
      |                 WHEN v.user_id IS NOT NULL THEN 1
      |                 ELSE 0 END AS BIGINT) AS funnel_depth
      |FROM base b LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
      |ORDER BY user_id""".stripMargin


  /** Per-priority revenue trend — [[graft.operators.GroupRegression]]:
    * closed-form OLS of fixed-point order totals over a month index, per
    * order priority, in ONE partial-aggregated pass. The five sufficient
    * statistics are decimal(38,0) integers on both engines; only the
    * final slope/intercept divides run in IEEE doubles (same operation
    * order), so the fit hash-matches exactly. */
  val q175_priority_trend: Q = (s, d) => {
    val o = Tables.orders(s, d).select(col("o_orderpriority"),
      ((year(col("o_orderdate")) - 1992) * 12 + month(col("o_orderdate")) - 1)
        .cast("long").as("x"),
      round(col("o_totalprice") * 10000).cast("long").as("y"))
    graft.operators.GroupRegression.fit(o, "o_orderpriority", "x", "y")
      .orderBy(col("o_orderpriority"))
  }

  val q175_sql: String =
    """WITH t AS (SELECT o_orderpriority,
      |    ((year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1)::BIGINT AS x,
      |    CAST(round(o_totalprice * 10000) AS BIGINT) AS y
      |  FROM orders),
      |a AS (SELECT o_orderpriority, count(*)::HUGEINT AS n,
      |    sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
      |    sum(x::HUGEINT * y::HUGEINT) AS sxy, sum(x::HUGEINT * x::HUGEINT) AS sxx
      |  FROM t GROUP BY 1),
      |b AS (SELECT o_orderpriority, n, sx, sy,
      |    n * sxy - sx * sy AS num, n * sxx - sx * sx AS den FROM a)
      |SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
      |  CASE WHEN den = 0 THEN NULL
      |       ELSE CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END AS slope,
      |  CASE WHEN den = 0 THEN NULL
      |       ELSE (CAST(sy AS DOUBLE) - (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
      |             * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) END AS intercept
      |FROM b ORDER BY o_orderpriority""".stripMargin


  // ------------------------------------------- round 7: incremental refresh
  /** Incremental view maintenance — [[graft.operators.Incremental]]: the
    * per-(source, lang) rollup is materialized once over the base (80% of
    * the corpus), then refreshed from a weighted changelog — inserts (the
    * remaining 20%, weight +1) and retractions (every 97th base doc,
    * weight −1) — WITHOUT rescanning the base: the refresh
    * partial-aggregates only the delta and merges two |groups|-bounded
    * frames. At 100 TB this is the difference between a per-batch
    * delta-sized job and a daily full-table recompute; the oracle replays
    * the equivalent full recompute, certifying the maintained view equals
    * it exactly (including retraction arithmetic). */
  val q193_incremental_agg: Q = (s, d) => {
    import graft.operators.Incremental
    val doc = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    val base = doc.where(col("doc_id") % 10 < 8)
    val state = Incremental.partial(base, Seq("source", "lang"), lit(1L),
      Seq("tot_chars" -> col("n_chars")))
    val changes = doc.where(col("doc_id") % 10 >= 8).withColumn("w", lit(1L))
      .unionByName(base.where(col("doc_id") % 97 === 0).withColumn("w", lit(-1L)))
    val deltaPartial = Incremental.partial(changes, Seq("source", "lang"),
      col("w"), Seq("tot_chars" -> col("n_chars")))
    Incremental.merge(Seq(state, deltaPartial), Seq("source", "lang"))
      .orderBy(col("source"), col("lang"))
  }

  val q193_sql: String =
    """SELECT source, lang, count(*)::BIGINT AS n_rows,
      |       sum(n_chars)::BIGINT AS tot_chars
      |FROM documents
      |WHERE (doc_id % 10 < 8 AND doc_id % 97 <> 0) OR doc_id % 10 >= 8
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin


  /** Per-source exact top-5 by length — [[graft.operators.TopK]]: the
    * map-side-combinable top-k AGGREGATE, the 100 TB alternative to q33's
    * window form. `row_number() OVER (PARTITION BY …)` shuffles and sorts
    * every corpus row; the aggregator's partial combine keeps ≤ k pairs
    * per group per map task, so the exchange carries |groups|·k bounded
    * buffers. Exact (top-k is distributive), deterministic via the
    * (score DESC, id ASC) tie-break; the oracle replays the window form —
    * the two formulations must agree row-for-row. */
  val q197_topk_agg: Q = (s, d) =>
    graft.operators.TopK.topKByGroup(
      Tables.documents(s, d).select(col("source"), col("n_chars"), col("doc_id")),
      "source", "n_chars", "doc_id", 5)
      .orderBy(col("source"), col("rank"))

  val q197_sql: String =
    """SELECT source, rank, doc_id, n_chars FROM (
      |  SELECT source, doc_id, n_chars,
      |         row_number() OVER (PARTITION BY source
      |           ORDER BY n_chars DESC, doc_id)::BIGINT AS rank
      |  FROM documents) WHERE rank <= 5
      |ORDER BY source, rank""".stripMargin


  // --------------------------------------- round 7: time-series + evolution
  /** Keyed gap-fill — [[graft.operators.Impute]]: every 5th reading is
    * nulled out, then carried forward (LOCF) and backward within each
    * user's timeline. Two frame-bounded window passes partitioned on
    * user_id sharing ONE (key, order) sort shuffle — no join, no
    * self-union, codegen throughout; leading/trailing gaps stay null.
    * The (ts, event_id) ordering is total, so fills are deterministic
    * and the oracle replays them with IGNORE NULLS window functions. */
  val q201_locf_fill: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
      col("ts"),
      when(col("event_id") % 5 === 0, lit(null).cast("double"))
        .otherwise(col("value")).as("v"))
    graft.operators.Impute.fill(ev, "user_id", Seq(col("ts"), col("event_id")), "v")
      .select(col("event_id"), col("user_id"), col("v"), col("v_ffill"),
        col("v_bfill"))
      .orderBy(col("event_id"))
  }

  val q201_sql: String =
    """WITH e AS (SELECT event_id, user_id, ts,
      |             CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
      |           FROM events)
      |SELECT event_id, user_id, v,
      |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill,
      |  first_value(v IGNORE NULLS) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v_bfill
      |FROM e ORDER BY event_id""".stripMargin


  /** Per-user integer EWMA — [[graft.operators.Ewma]]: the ordered
    * value-recursive fold `sₜ = (sₜ₋₁ + xₜ) div 2` that NO window
    * function can express, folded in one constant-memory sorted-run scan
    * (repartition by user + sortWithinPartitions + mapPartitions with
    * key-change reset — no per-key buffer, unbounded history). All
    * integer, so the oracle's O(n²)-per-user prefix list_reduce replay
    * hash-matches exactly. */
  val q202_ewma_fixed: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("user_id"),
      unix_millis(col("ts")).as("tsm"), col("event_id"),
      round(abs(col("value")) * 10000).cast("long").as("x"))
    graft.operators.Ewma.halfLife(ev, "user_id", "tsm", "event_id", "x")
      .orderBy(col("event_id"))
  }

  val q202_sql: String =
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


  /** First-order Markov transition matrix of the event stream: per-user
    * lag pairs (one keyed window sort), then a map-side-combined count
    * per (prev, next) — the transition frame is bounded by |event
    * types|², so the probability normalization (integral fixed point,
    * window over the BOUNDED counts frame) never touches corpus-sized
    * data again. */
  val q203_markov_transitions: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .where(col("prev_type").isNotNull)
      .select(col("prev_type"), col("event_type").as("next_type"))
    val counts = pairs.groupBy(col("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("tot", sum(col("n")).over(Window.partitionBy(col("prev_type"))))
      .withColumn("prob_fp", expr("(n * 1000000) div tot"))
      .drop("tot")
      .orderBy(col("prev_type"), col("next_type"))
  }

  val q203_sql: String =
    """WITH p AS (SELECT user_id, event_type,
      |             lag(event_type) OVER (PARTITION BY user_id
      |               ORDER BY ts, event_id) AS prev_type
      |           FROM events),
      |c AS (SELECT prev_type, event_type AS next_type, count(*)::BIGINT AS n
      |      FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT prev_type, sum(n)::HUGEINT AS tot FROM c GROUP BY 1)
      |SELECT c.prev_type, c.next_type, c.n,
      |       ((c.n * 1000000) // t.tot)::BIGINT AS prob_fp
      |FROM c JOIN t USING (prev_type) ORDER BY prev_type, next_type""".stripMargin


  /** Regular-grid resample + gap-fill — [[graft.operators.Resample]]
    * densifies each user's timeline onto an hourly grid (map-side-
    * combined bucket agg → |keys|-bounded span frame → narrow
    * budget-guarded `sequence` explode → keyed left join), then
    * [[graft.operators.Impute]] carries the bucket sums across empty
    * ticks. Grid arithmetic is epoch-millis Longs throughout, so the
    * oracle regenerates the identical grid with `range()` — no
    * timestamp-zone semantics in the compared output. */
  val q205_resample_grid: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("user_id"),
      unix_millis(col("ts")).as("tsm"),
      round(abs(col("value")) * 10000).cast("long").as("x"))
    val grid = graft.operators.Resample.toGrid(ev, "user_id", col("tsm"),
      3600000L, Seq("n_obs" -> count(lit(1)), "x_sum" -> sum(col("x"))))
      .withColumn("n_obs", coalesce(col("n_obs"), lit(0L)))
      // the window passes + the dump's range sort otherwise re-evaluate the
      // explode⋈buckets diamond per consumer (measured 6.8 s → 1.5 s at
      // sf0.1 with the materialized grid — the q121 fan-out lesson)
      .localCheckpoint(true)
    graft.operators.Impute.fill(grid, "user_id", Seq(col("tick_ms")), "x_sum")
      .orderBy(col("user_id"), col("tick_ms"))
  }

  val q205_sql: String =
    """WITH e AS (SELECT user_id, epoch_ms(ts) AS tsm,
      |             CAST(round(abs(value) * 10000) AS BIGINT) AS x
      |           FROM events),
      |b AS (SELECT user_id, tsm - tsm % 3600000 AS tick_ms,
      |        count(*)::BIGINT AS n_obs, sum(x)::BIGINT AS x_sum
      |      FROM e GROUP BY 1, 2),
      |sp AS (SELECT user_id, min(tick_ms) AS t0, max(tick_ms) AS t1
      |       FROM b GROUP BY 1),
      |g AS (SELECT user_id, unnest(range(t0, t1 + 1, 3600000)) AS tick_ms
      |      FROM sp),
      |j AS (SELECT g.user_id, g.tick_ms,
      |        coalesce(b.n_obs, 0)::BIGINT AS n_obs, b.x_sum
      |      FROM g LEFT JOIN b USING (user_id, tick_ms))
      |SELECT user_id, tick_ms, n_obs, x_sum,
      |  last_value(x_sum IGNORE NULLS) OVER (PARTITION BY user_id
      |    ORDER BY tick_ms
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS x_sum_ffill,
      |  first_value(x_sum IGNORE NULLS) OVER (PARTITION BY user_id
      |    ORDER BY tick_ms
      |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS x_sum_bfill
      |FROM j ORDER BY user_id, tick_ms""".stripMargin


  /** Per-user CUSUM drift detection — [[graft.operators.Cusum]]: Page's
    * one-sided cumulative-sum statistic `sₜ = max(0, sₜ₋₁ + xₜ − k)`
    * against reference level k = 5000 fixed-point, alarming above
    * h = 30000 — the ordered value-recursive fold (same [[graft.operators.KeyedFold]]
    * sorted-run shape as q202: one keyed sort shuffle, one constant-
    * memory partition scan, unbounded per-key history). All-integer, so
    * the oracle's prefix `list_reduce` replay (seeded with a prepended 0)
    * hash-matches exactly. */
  val q207_cusum_drift: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("user_id"),
      unix_millis(col("ts")).as("tsm"), col("event_id"),
      round(abs(col("value")) * 10000).cast("long").as("x"))
    graft.operators.Cusum.drift(ev, "user_id", "tsm", "event_id", "x",
      k = 5000L, h = 30000L)
      .orderBy(col("event_id"))
  }

  val q207_sql: String =
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


  /** Ordered event-pattern matching (MATCH_RECOGNIZE-style): count
    * non-overlapping greedy completions of the subsequence pattern
    * view → click → purchase per user, via a 3-state DFA folded over each
    * user's timeline by [[graft.operators.KeyedFold]]. The automaton
    * state and the completion count pack into ONE long
    * (`completions·10 + stage`), so the whole state machine is the same
    * constant-memory sorted-run scan as q202/q207 — per-key history
    * unbounded, no collect_list, no window — and the oracle replays the
    * encoded transition table with a prefix `list_reduce`. The
    * pattern-matching primitive sessionized funnels can't express (a
    * funnel counts stage reach; this counts DISJOINT completions).
    *
    * Oracle note: the transition is written ARITHMETICALLY
    * (boolean-cast deltas: +1 on an advance, +8 = (c+1)·10 − (10c+2) on
    * a completion) because DuckDB 1.0.0 mis-evaluates a CASE expression
    * inside a nested list_transform∘list_reduce lambda at vectorization
    * boundaries (verified: the CASE form diverges from a single-user
    * replay of the SAME SQL at prefix-workload ~1k elements; the
    * arithmetic form matches an independent Python fold on all rows). */
  val q210_pattern_dfa: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("user_id"),
      unix_millis(col("ts")).as("tsm"), col("event_id"),
      when(col("event_type") === "view", 1L)
        .when(col("event_type") === "click", 2L)
        .when(col("event_type") === "purchase", 3L)
        .otherwise(0L).as("x"))
    graft.operators.PatternDfa.fold(ev, "user_id", "tsm", "event_id", "x")
      .withColumn("completions", expr("dfa div 10"))
      .withColumn("stage", col("dfa") % 10)
      .orderBy(col("event_id"))
  }

  val q210_sql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS tsm,
      |             CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
      |               WHEN 'purchase' THEN 3 ELSE 0 END::BIGINT AS x
      |           FROM events),
      |g AS (SELECT user_id,
      |        list(x ORDER BY tsm, event_id) AS xs,
      |        list(event_id ORDER BY tsm, event_id) AS ids
      |      FROM e GROUP BY 1),
      |u AS (SELECT user_id, unnest(ids) AS event_id, unnest(xs) AS x,
      |             unnest(list_transform(range(1, len(xs) + 1),
      |               i -> list_reduce(list_prepend(0::BIGINT, xs[1:i]),
      |                      (a, b) -> a
      |                        + ((a % 10 = 0 AND b = 1)
      |                           OR (a % 10 = 1 AND b = 2))::BIGINT
      |                        + (a % 10 = 2 AND b = 3)::BIGINT * 8))) AS dfa
      |      FROM g)
      |SELECT user_id, event_id, x, dfa,
      |       (dfa // 10)::BIGINT AS completions, dfa % 10 AS stage
      |FROM u ORDER BY event_id""".stripMargin


  /** One-pass Pearson correlation matrix — [[graft.operators.Correlate]]:
    * all 6 pairs of the four lineitem measures from a single
    * map-side-combined sufficient-statistics aggregate (decimal-exact
    * integer sums; r² + sign instead of r, so no sqrt and the only float
    * step is one exact-int-to-double divide — hash-identical on any
    * engine). */
  val q213_corr_matrix: Q = (s, d) => {
    val li = Tables.lineitem(s, d).select(
      round(col("l_quantity") * 100).cast("long").as("qty"),
      round(col("l_extendedprice") * 100).cast("long").as("price"),
      round(col("l_discount") * 100).cast("long").as("disc"),
      round(col("l_tax") * 100).cast("long").as("tax"))
    graft.operators.Correlate.matrix(li, Seq("qty", "price", "disc", "tax"))
      .orderBy(col("col_a"), col("col_b"))
  }

  val q213_sql: String = {
    val cols = Seq("qty", "price", "disc", "tax")
    val pairs = for { i <- cols.indices; j <- (i + 1) until cols.size }
      yield (cols(i), cols(j))
    val sums = cols.map(c =>
      s"sum($c::HUGEINT) AS s_$c, sum($c::HUGEINT * $c::HUGEINT) AS ss_$c")
      .mkString(", ")
    val crossSums = pairs.map { case (a, b) =>
      s"sum($a::HUGEINT * $b::HUGEINT) AS sp_${a}_$b" }.mkString(", ")
    val rows = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS col_a, '$b' AS col_b, CAST(n AS BIGINT) AS n,
         |  sign(n * sp_${a}_$b - s_$a * s_$b)::BIGINT AS sign,
         |  CASE WHEN n * ss_$a - s_$a * s_$a = 0
         |         OR n * ss_$b - s_$b * s_$b = 0 THEN NULL
         |       ELSE (CAST(n * sp_${a}_$b - s_$a * s_$b AS DOUBLE)
         |             * CAST(n * sp_${a}_$b - s_$a * s_$b AS DOUBLE))
         |            / (CAST(n * ss_$a - s_$a * s_$a AS DOUBLE)
         |               * CAST(n * ss_$b - s_$b * s_$b AS DOUBLE)) END AS r2
         |FROM a""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH t AS (SELECT CAST(round(l_quantity * 100) AS BIGINT) AS qty,
       |             CAST(round(l_extendedprice * 100) AS BIGINT) AS price,
       |             CAST(round(l_discount * 100) AS BIGINT) AS disc,
       |             CAST(round(l_tax * 100) AS BIGINT) AS tax
       |           FROM lineitem),
       |a AS (SELECT count(*)::HUGEINT AS n, $sums, $crossSums FROM t)
       |SELECT * FROM ($rows) ORDER BY col_a, col_b""".stripMargin
  }


  /** Exact per-group weighted median —
    * [[graft.operators.WeightedMedian]]: the quantity-weighted median
    * line price per return flag. Cumulative weights ride the
    * range-partitioned prefix sum (no per-group single-task window);
    * totals are a |groups|-bounded broadcast; the median is one filter +
    * min. The robust weighted center `percentile()` can't express. */
  val q216_weighted_median: Q = (s, d) => {
    val li = Tables.lineitem(s, d).select(col("l_returnflag"),
      round(col("l_extendedprice") * 100).cast("long").as("price"),
      (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("line_id"),
      round(col("l_quantity")).cast("long").as("qty"))
    graft.operators.WeightedMedian.lower(li, "l_returnflag", "price",
      "line_id", "qty")
      .orderBy(col("l_returnflag"))
  }

  val q216_sql: String =
    """WITH t AS (SELECT l_returnflag,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
      |    (l_orderkey * 10 + l_linenumber)::BIGINT AS id,
      |    CAST(round(l_quantity) AS BIGINT) AS w
      |  FROM lineitem),
      |c AS (SELECT l_returnflag, v, w,
      |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY v, id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
      |    sum(w) OVER (PARTITION BY l_returnflag) AS wt
      |  FROM t)
      |SELECT l_returnflag, CAST(wt AS BIGINT) AS w_total,
      |       min(v) AS median
      |FROM c WHERE 2 * cumw >= wt GROUP BY l_returnflag, wt
      |ORDER BY l_returnflag""".stripMargin


  /** Recency-decayed engagement score: per-user sum of event values
    * halved per week of age at the corpus snapshot instant — exponential
    * time decay in EXACT integer arithmetic (the decay is a power-of-two
    * integral division, so no float accumulation and the oracle
    * hash-matches). Shape: one bounded max-snapshot aggregate broadcast
    * under the scan, then a single map-side-combined per-user sum — the
    * recency weighting needs NO ordered state, unlike q202's recurrence,
    * because the decay depends only on each row's own age. */
  val q217_decayed_engagement: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("user_id"),
      unix_millis(col("ts")).as("tsm"),
      round(abs(col("value")) * 10000).cast("long").as("x"))
    val tmax = ev.agg(max(col("tsm")).as("tmax"))
    ev.join(broadcast(tmax))
      .withColumn("u", least(expr("(tmax - tsm) div 604800000"), lit(40L)))
      .withColumn("dx", expr("x div cast(pow(2, u) as bigint)"))
      .groupBy(col("user_id"))
      .agg(sum(col("dx")).as("decayed"), count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  val q217_sql: String =
    """WITH e AS (SELECT user_id, epoch_ms(ts) AS tsm,
      |             CAST(round(abs(value) * 10000) AS BIGINT) AS x
      |           FROM events),
      |m AS (SELECT max(tsm) AS tmax FROM e),
      |d AS (SELECT user_id,
      |        x // CAST(2 ** least((tmax - tsm) // 604800000, 40) AS BIGINT)
      |          AS dx
      |      FROM e, m)
      |SELECT user_id, sum(dx)::BIGINT AS decayed,
      |       count(*)::BIGINT AS n_events
      |FROM d GROUP BY 1 ORDER BY user_id""".stripMargin


  /** Last-touch attribution: every purchase is credited to the user's
    * most recent view within a 30-minute lookback. ONE keyed window pass
    * (the same (user, tsm, event_id) sort class as q201/q203 — at 100 TB
    * the cost is that single keyed sort shuffle): the last view's
    * (tsm, id) carry forward in two IGNORE-NULLS window columns over a
    * ROWS frame on the TOTAL order — deliberately not a RANGE frame,
    * whose tsm-only ordering would make intra-tie attribution
    * nondeterministic — and the lookback is a row-local comparison
    * afterwards. */
  val q220_attribution: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsm"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(col("user_id"), unix_millis(col("ts")).as("tsm"),
        col("event_id"), col("event_type"))
      .withColumn("lv_tsm",
        last(when(col("event_type") === "view", col("tsm")),
          ignoreNulls = true).over(w))
      .withColumn("lv_id",
        last(when(col("event_type") === "view", col("event_id")),
          ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase")
      .withColumn("attributed",
        col("lv_tsm").isNotNull && col("lv_tsm") >= col("tsm") - 1800000L)
      .select(col("user_id"), col("event_id"),
        when(col("attributed"), col("lv_id")).as("view_id"),
        col("attributed"))
      .orderBy(col("event_id"))
  }

  val q220_sql: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |             epoch_ms(ts) AS tsm FROM events),
      |c AS (SELECT user_id, event_id, event_type, tsm,
      |  last_value(CASE WHEN event_type = 'view' THEN tsm END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY tsm, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lv_tsm,
      |  last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY tsm, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lv_id
      |  FROM e)
      |SELECT user_id, event_id,
      |  CASE WHEN lv_tsm IS NOT NULL AND lv_tsm >= tsm - 1800000
      |       THEN lv_id END AS view_id,
      |  (lv_tsm IS NOT NULL AND lv_tsm >= tsm - 1800000) AS attributed
      |FROM c WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin


  /** Weekly retention cohorts: users grouped by first-seen week, counted
    * distinct per week offset — the durable-engagement matrix. Shape:
    * one per-user min aggregate (map-side combined), one hash join back
    * on user_id (both sides partition on the key; the cohort frame is
    * |users|-sized, NOT broadcast — users scale with the corpus), then a
    * count-distinct over the |weeks|²-bounded cohort grid. */
  val q221_retention_cohorts: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), unix_millis(col("ts")).as("tsm"))
    val first = ev.groupBy(col("user_id")).agg(min(col("tsm")).as("t0"))
    ev.join(first, Seq("user_id"))
      .select(expr("t0 div 604800000").as("cohort_week"),
        expr("(tsm - t0) div 604800000").as("week_offset"),
        col("user_id"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val q221_sql: String =
    """WITH e AS (SELECT user_id, epoch_ms(ts) AS tsm FROM events),
      |f AS (SELECT user_id, min(tsm) AS t0 FROM e GROUP BY 1)
      |SELECT t0 // 604800000 AS cohort_week,
      |       (tsm - t0) // 604800000 AS week_offset,
      |       count(DISTINCT e.user_id)::BIGINT AS n_users
      |FROM e JOIN f USING (user_id)
      |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin


  /** Benford first-digit audit of the line prices — the classic
    * fabricated-data / unit-mixup detector: observed leading-digit shares
    * against Benford's law, as signed fixed-point deviations (ppm). The
    * expected shares are precomputed integer constants (log10(1+1/d)·10⁶)
    * so the whole audit — one map-side-combined 9-row aggregate plus
    * row-local arithmetic — is libm-free and hash-exact. */
  val q222_benford: Q = (s, d) => {
    val benford = Seq(301030L, 176091L, 124939L, 96910L, 79181L,
      66947L, 57992L, 51153L, 45757L)
    val bmap = benford.zipWithIndex
      .map { case (p, i) => (i + 1).toString -> p }
    val li = Tables.lineitem(s, d)
      .select(round(col("l_extendedprice") * 100).cast("long").as("v"))
      .where(col("v") > 0)
      .select(substring(col("v").cast("string"), 1, 1).cast("long").as("digit"))
    val counts = li.groupBy(col("digit")).agg(count(lit(1)).as("n_d"))
    val total = counts.agg(sum(col("n_d")).as("n"))
    val exp = bmap.foldLeft(lit(0L)) { case (acc, (ds, p)) =>
      when(col("digit") === ds.toLong, lit(p)).otherwise(acc) }
    counts.join(broadcast(total))
      .withColumn("share_fp", expr("(n_d * 1000000) div n"))
      .withColumn("benford_fp", exp)
      .withColumn("dev_fp", col("share_fp") - col("benford_fp"))
      .select(col("digit"), col("n_d"), col("share_fp"), col("benford_fp"),
        col("dev_fp"))
      .orderBy(col("digit"))
  }

  val q222_sql: String =
    """WITH v AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v
      |           FROM lineitem
      |           WHERE CAST(round(l_extendedprice * 100) AS BIGINT) > 0),
      |dg AS (SELECT CAST(substr(v::VARCHAR, 1, 1) AS BIGINT) AS digit FROM v),
      |c AS (SELECT digit, count(*)::BIGINT AS n_d FROM dg GROUP BY 1),
      |t AS (SELECT sum(n_d)::BIGINT AS n FROM c),
      |b AS (SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939),
      |        (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153),
      |        (9, 45757)) AS bb(digit, p))
      |SELECT c.digit, n_d, (n_d * 1000000) // n AS share_fp,
      |       p::BIGINT AS benford_fp,
      |       (n_d * 1000000) // n - p AS dev_fp
      |FROM c JOIN b ON b.digit = c.digit, t ORDER BY c.digit""".stripMargin


  /** Winsorized robust stats: per return flag, clip line prices to the
    * group's exact lower 5th/95th percentiles, then report the clipped sum
    * and clip counts — the outlier-robust revenue summary a mean/stddev
    * pair misrepresents under heavy tails. Shape: group ranks ride the
    * range-partitioned prefix sum ([[graft.operators.RunningTotal]] with a
    * 4-group hint — never a per-group single-task window); group totals
    * and both thresholds are |groups|-bounded broadcasts; the clip itself
    * is row-local and the final sum is map-side combined. The lower-
    * percentile threshold is `min(v | rank >= ceil(q·n))`, kept in integer
    * arithmetic (`100·rank >= q·n`) so the oracle hash-matches. */
  val q224_winsorized_stats: Q = (s, d) => {
    val li = Tables.lineitem(s, d).select(col("l_returnflag"),
      round(col("l_extendedprice") * 100).cast("long").as("price"),
      (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("line_id"))
      .withColumn("one", lit(1L))
    val ranked = graft.operators.RunningTotal.grouped(li, "l_returnflag",
        Seq("price", "line_id"), "one", "rnk", groupCountHint = Some(8L))
      .localCheckpoint(true) // consumers: totals + 2 thresholds + clip scan
    val totals = ranked.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"))
    val withN = ranked.join(broadcast(totals), Seq("l_returnflag"))
    def thr(pct: Int, name: String) = withN
      .where(col("rnk") * 100 >= col("n") * pct)
      .groupBy(col("l_returnflag")).agg(min(col("price")).as(name))
    withN
      .join(broadcast(thr(5, "lo")), Seq("l_returnflag"))
      .join(broadcast(thr(95, "hi")), Seq("l_returnflag"))
      .withColumn("clipped", greatest(col("lo"), least(col("hi"), col("price"))))
      .groupBy(col("l_returnflag"))
      .agg(max(col("n")).as("n"), max(col("lo")).as("lo"),
        max(col("hi")).as("hi"),
        sum(col("clipped")).as("winsorized_sum"),
        sum(when(col("price") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("price") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"))
      .orderBy(col("l_returnflag"))
  }

  val q224_sql: String =
    """WITH t AS (SELECT l_returnflag,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price,
      |    (l_orderkey * 10 + l_linenumber)::BIGINT AS line_id
      |  FROM lineitem),
      |r AS (SELECT l_returnflag, price,
      |    row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY price, line_id) AS rnk,
      |    count(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM t),
      |lo AS (SELECT l_returnflag, min(price) AS lo FROM r
      |       WHERE rnk * 100 >= n * 5 GROUP BY 1),
      |hi AS (SELECT l_returnflag, min(price) AS hi FROM r
      |       WHERE rnk * 100 >= n * 95 GROUP BY 1)
      |SELECT r.l_returnflag, CAST(max(n) AS BIGINT) AS n,
      |       max(lo) AS lo, max(hi) AS hi,
      |       CAST(sum(greatest(lo, least(hi, price))) AS BIGINT)
      |         AS winsorized_sum,
      |       CAST(sum(CASE WHEN price < lo THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_clip_lo,
      |       CAST(sum(CASE WHEN price > hi THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_clip_hi
      |FROM r JOIN lo USING (l_returnflag) JOIN hi USING (l_returnflag)
      |GROUP BY 1 ORDER BY l_returnflag""".stripMargin


  /** Key-skew audit: the Gini coefficient of the per-join-key row-count
    * distribution — the one-number answer to "will this key skew a
    * shuffle?" that drives the salted-join / AQE-skew decision
    * ([[graft.operators.Skew]]). Shape: one map-side-combined count per
    * key; the |keys|-sized counts frame (localCheckpoint'ed — two
    * consumers) is ranked by the range-partitioned prefix sum (constant
    * group, hint 1 — NO single-task global window even though the rank is
    * global); the Gini and the top-1 %-key share reduce to exact integer
    * sums (decimal-accumulated) with ONE IEEE division each, so the
    * output hash-matches the oracle's window replay. */
  val q225_key_skew_gini: Q = (s, d) => {
    val counts = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("x"))
      .withColumn("g", lit(0))
      .withColumn("one", lit(1L))
      .localCheckpoint(true) // consumers: rank pass + n-keys agg
    val n = counts.agg(count(lit(1)).as("n_keys"))
    val ranked = graft.operators.RunningTotal.grouped(counts, "g",
      Seq("x", "l_orderkey"), "one", "rnk", groupCountHint = Some(1L))
    val sums = ranked.agg(
      sum(col("rnk").cast("decimal(38,0)") * col("x")).as("s"),
      sum(col("x").cast("decimal(38,0)")).as("t"))
    ranked.join(broadcast(n))
      .where(col("rnk") * 100 > col("n_keys") * 99)
      .agg(sum(col("x")).as("top1"))
      .crossJoin(broadcast(sums)) // 1x1: broadcast nested loop
      .crossJoin(broadcast(n))
      .select(col("n_keys"), col("t").cast("long").as("total_rows"),
        ((lit(2).cast("decimal(38,0)") * col("s")
          - (col("n_keys") + 1) * col("t")).cast("double")
          / (col("n_keys").cast("decimal(38,0)") * col("t")).cast("double"))
          .as("gini"),
        col("top1"))
      .withColumn("top1_share_ppm", expr("top1 * 1000000 div total_rows"))
      .drop("top1")
  }

  val q225_sql: String =
    """WITH c AS (SELECT l_orderkey, count(*)::BIGINT AS x FROM lineitem
      |           GROUP BY 1),
      |r AS (SELECT x, row_number() OVER (ORDER BY x, l_orderkey) AS rnk,
      |             count(*) OVER () AS n_keys FROM c),
      |a AS (SELECT max(n_keys)::BIGINT AS n_keys,
      |             sum(rnk::HUGEINT * x) AS s, sum(x::HUGEINT) AS t,
      |             sum(CASE WHEN rnk * 100 > n_keys * 99 THEN x END) AS top1
      |      FROM r)
      |SELECT n_keys, CAST(t AS BIGINT) AS total_rows,
      |       CAST(2 * s - (n_keys + 1) * t AS DOUBLE)
      |         / CAST(n_keys::HUGEINT * t AS DOUBLE) AS gini,
      |       CAST(top1 * 1000000 // t AS BIGINT) AS top1_share_ppm
      |FROM a""".stripMargin


  /** CDC log apply: the events table as an upsert/delete change log on
    * (user, event_type) — negative values are tombstones — reduced to
    * the final snapshot with ONE map-side-combined `max(struct)`
    * aggregate. This deliberately replaces the classic
    * `row_number() = 1` window (which shuffles the ENTIRE log into
    * per-key sorted tasks): the struct max combines partially inside
    * each map task, so the shuffle carries |keys| rows, not |log| rows —
    * at a 100 TB change log that is the difference between a merge that
    * finishes and one that doesn't. (tsm, event_id) is unique per key,
    * so the lexicographic struct order is total and deterministic. */
  val q231_cdc_apply: Q = (s, d) => {
    Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("tsm"), col("event_id"),
        round(col("value") * 10000).cast("long").as("v"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(struct(col("tsm"), col("event_id"), col("v"))).as("m"))
      .select(col("user_id"), col("event_type"),
        col("m.tsm").as("last_tsm"), col("m.event_id").as("last_event_id"),
        col("m.v").as("last_value"))
      .where(col("last_value") >= 0)
      .orderBy(col("user_id"), col("event_type"))
  }

  val q231_sql: String =
    """WITH l AS (SELECT user_id, event_type, epoch_ms(ts) AS tsm, event_id,
      |             CAST(round(value * 10000) AS BIGINT) AS v FROM events),
      |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
      |        ORDER BY tsm DESC, event_id DESC) AS rn FROM l)
      |SELECT user_id, event_type, tsm AS last_tsm,
      |       event_id AS last_event_id, v AS last_value
      |FROM r WHERE rn = 1 AND v >= 0
      |ORDER BY user_id, event_type""".stripMargin


  /** FREQUENT ITEMSETS (Apriori levels 1–3) over (user, day) event-type
    * baskets with RELATIVE minimum support (15 % / 7 % / 2.5 % of
    * baskets — absolute thresholds would stop scaling with the corpus).
    * The Apriori shapes that survive 100 TB: candidate generation is a
    * basket-keyed self-join (fan-out bounded by basket size squared,
    * row-local per basket — never item×item across baskets), level-k
    * candidates are pruned by ALL their level-(k−1) subsets via
    * broadcast semi-joins against the bounded frequent frames, and every
    * support count is map-side combined. The basket count rides one
    * 1-row broadcast; threshold compares stay in integer arithmetic
    * (supp·1000 ≥ baskets·pct). */
  val q237_frequent_itemsets: Q = (s, d) => {
    val b = Tables.events(s, d)
      .select(col("user_id"), expr("unix_millis(ts) div 86400000").as("day"),
        col("event_type"))
      .distinct()
      .localCheckpoint(true) // consumers: basket count + L1 + pair gen ×2
    val nb = b.select(col("user_id"), col("day")).distinct()
      .agg(count(lit(1)).as("nb"))
    val s1 = b.groupBy(col("event_type")).agg(count(lit(1)).as("supp"))
      .crossJoin(broadcast(nb))
    val f1 = s1.where(col("supp") * 1000 >= col("nb") * 150)
      .localCheckpoint(true) // consumers: output + two prune joins
    val f1keys = broadcast(f1.select(col("event_type")))
    val pairsInst = b.as("a").join(b.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.day") === col("b.day")
          && col("a.event_type") < col("b.event_type"))
      .select(col("a.user_id"), col("a.day"),
        col("a.event_type").as("ia"), col("b.event_type").as("ib"))
      .join(f1keys.withColumnRenamed("event_type", "ia"), Seq("ia"), "left_semi")
      .join(f1keys.withColumnRenamed("event_type", "ib"), Seq("ib"), "left_semi")
      .localCheckpoint(true) // consumers: pair counts + triple gen
    val f2 = pairsInst.groupBy(col("ia"), col("ib"))
      .agg(count(lit(1)).as("supp"))
      .crossJoin(broadcast(nb))
      .where(col("supp") * 1000 >= col("nb") * 70)
      .localCheckpoint(true) // consumers: output + three prune joins
    val f2keys = broadcast(f2.select(col("ia"), col("ib")))
    val f3 = pairsInst.join(f2keys, Seq("ia", "ib"), "left_semi").as("p")
      .join(b.as("c"),
        col("p.user_id") === col("c.user_id") && col("p.day") === col("c.day")
          && col("p.ib") < col("c.event_type"))
      .select(col("p.ia").as("ia"), col("p.ib").as("ib"),
        col("c.event_type").as("ic"))
      .join(f2keys.toDF("ia", "ic"), Seq("ia", "ic"), "left_semi")
      .join(f2keys.toDF("ib", "ic"), Seq("ib", "ic"), "left_semi")
      .groupBy(col("ia"), col("ib"), col("ic"))
      .agg(count(lit(1)).as("supp"))
      .crossJoin(broadcast(nb))
      .where(col("supp") * 1000 >= col("nb") * 25)
    f1.select(lit(1L).as("level"), col("event_type").as("item_a"),
        lit(null).cast("string").as("item_b"),
        lit(null).cast("string").as("item_c"), col("supp"))
      .unionByName(f2.select(lit(2L).as("level"), col("ia").as("item_a"),
        col("ib").as("item_b"), lit(null).cast("string").as("item_c"),
        col("supp")))
      .unionByName(f3.select(lit(3L).as("level"), col("ia").as("item_a"),
        col("ib").as("item_b"), col("ic").as("item_c"), col("supp")))
      .orderBy(col("level"), col("item_a"), col("item_b"), col("item_c"))
  }

  val q237_sql: String =
    """WITH b AS (SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day,
      |             event_type FROM events),
      |nb AS (SELECT count(*)::BIGINT AS nb FROM (
      |         SELECT DISTINCT user_id, day FROM b)),
      |f1 AS (SELECT event_type, count(*)::BIGINT AS supp FROM b GROUP BY 1
      |       HAVING count(*) * 1000 >= (SELECT nb * 150 FROM nb)),
      |pi AS (SELECT a.user_id, a.day, a.event_type AS ia, c.event_type AS ib
      |       FROM b a JOIN b c ON a.user_id = c.user_id AND a.day = c.day
      |                        AND a.event_type < c.event_type
      |       WHERE a.event_type IN (SELECT event_type FROM f1)
      |         AND c.event_type IN (SELECT event_type FROM f1)),
      |f2 AS (SELECT ia, ib, count(*)::BIGINT AS supp FROM pi GROUP BY 1, 2
      |       HAVING count(*) * 1000 >= (SELECT nb * 70 FROM nb)),
      |f3 AS (SELECT p.ia, p.ib, c.event_type AS ic, count(*)::BIGINT AS supp
      |       FROM pi p JOIN b c ON p.user_id = c.user_id AND p.day = c.day
      |                         AND p.ib < c.event_type
      |       WHERE EXISTS (SELECT 1 FROM f2 WHERE f2.ia = p.ia AND f2.ib = p.ib)
      |         AND EXISTS (SELECT 1 FROM f2
      |                     WHERE f2.ia = p.ia AND f2.ib = c.event_type)
      |         AND EXISTS (SELECT 1 FROM f2
      |                     WHERE f2.ia = p.ib AND f2.ib = c.event_type)
      |       GROUP BY 1, 2, 3
      |       HAVING count(*) * 1000 >= (SELECT nb * 25 FROM nb))
      |SELECT 1::BIGINT AS level, event_type AS item_a,
      |       NULL::VARCHAR AS item_b, NULL::VARCHAR AS item_c, supp FROM f1
      |UNION ALL
      |SELECT 2, ia, ib, NULL, supp FROM f2
      |UNION ALL
      |SELECT 3, ia, ib, ic, supp FROM f3
      |ORDER BY level, item_a, item_b, item_c""".stripMargin


  /** ENTRY PATHS: the first three event types of every (user, day) visit
    * as a ">"-joined path, counted across visits — the landing-flow
    * sankey feed. The "first 3" come from [[graft.operators.TopK]]'s
    * map-side-combinable aggregate (score = −tsm, id tie-break — NO
    * per-visit window sort of the corpus; the shuffle carries 3-entry
    * buffers per visit), the types come back via one event-id-keyed
    * join, and the path assembly is a bounded pivot. Output is at most
    * |types|³ rows. */
  val q243_entry_paths: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), expr("unix_millis(ts) div 86400000").as("day"),
        unix_millis(col("ts")).as("tsm"), col("event_id"), col("event_type"))
      .withColumn("visit",
        col("user_id") * 1000000L + col("day") % 1000000L)
      .localCheckpoint(true) // consumers: top-3 agg + type join-back
    val top3 = graft.operators.TopK.topKByGroup(
      ev.withColumn("negt", -col("tsm")), "visit", "negt", "event_id", 3)
    top3
      .join(ev.select(col("event_id"), col("event_type")), Seq("event_id"))
      .groupBy(col("visit"))
      .agg(max(when(col("rank") === 1, col("event_type"))).as("s1"),
        max(when(col("rank") === 2, col("event_type"))).as("s2"),
        max(when(col("rank") === 3, col("event_type"))).as("s3"))
      .select(concat_ws(">", col("s1"), col("s2"), col("s3")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_visits"))
      .orderBy(col("n_visits").desc, col("path"))
  }

  val q243_sql: String =
    """WITH e AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day,
      |             epoch_ms(ts) AS tsm, event_id, event_type FROM events),
      |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, day
      |        ORDER BY tsm, event_id) AS rn FROM e),
      |p AS (SELECT user_id, day,
      |        max(CASE WHEN rn = 1 THEN event_type END) AS s1,
      |        max(CASE WHEN rn = 2 THEN event_type END) AS s2,
      |        max(CASE WHEN rn = 3 THEN event_type END) AS s3
      |      FROM r WHERE rn <= 3 GROUP BY 1, 2)
      |SELECT concat_ws('>', s1, s2, s3) AS path,
      |       count(*)::BIGINT AS n_visits
      |FROM p GROUP BY 1 ORDER BY n_visits DESC, path""".stripMargin


  /** Exact PERCENTILE BANDS (p50/p95/p99) of the event value per type —
    * the latency-SLA report shape. One range-partitioned rank pass
    * ([[graft.operators.RunningTotal]], |types| hint — no per-type
    * single-task window even though every event of a type must be
    * ranked), one |types|-bounded totals broadcast, and each band is a
    * filtered min with the same integer threshold rule as q224
    * (lower percentile: min v with 100·rank ≥ pct·n). `percentile()`
    * interpolates in float; this is the exact integral form that
    * hash-matches at any scale. */
  val q244_percentile_bands: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("event_type"),
      round(col("value") * 10000).cast("long").as("v"),
      col("event_id").cast("long").as("event_id"))
      .withColumn("one", lit(1L))
    val ranked = graft.operators.RunningTotal.grouped(ev, "event_type",
        Seq("v", "event_id"), "one", "rnk", groupCountHint = Some(64L))
      .localCheckpoint(true) // consumers: totals + three band mins
    val totals = ranked.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    val withN = ranked.join(broadcast(totals), Seq("event_type"))
    def band(pct: Int, name: String) = withN
      .where(col("rnk") * 100 >= col("n") * pct)
      .groupBy(col("event_type")).agg(min(col("v")).as(name))
    totals
      .join(band(50, "p50"), Seq("event_type"))
      .join(band(95, "p95"), Seq("event_type"))
      .join(band(99, "p99"), Seq("event_type"))
      .orderBy(col("event_type"))
  }

  val q244_sql: String =
    """WITH t AS (SELECT event_type,
      |    CAST(round(value * 10000) AS BIGINT) AS v, event_id FROM events),
      |r AS (SELECT event_type, v,
      |    row_number() OVER (PARTITION BY event_type ORDER BY v, event_id)
      |      AS rnk,
      |    count(*) OVER (PARTITION BY event_type) AS n FROM t),
      |n AS (SELECT event_type, max(n)::BIGINT AS n FROM r GROUP BY 1),
      |p50 AS (SELECT event_type, min(v) AS p50 FROM r
      |        WHERE rnk * 100 >= n * 50 GROUP BY 1),
      |p95 AS (SELECT event_type, min(v) AS p95 FROM r
      |        WHERE rnk * 100 >= n * 95 GROUP BY 1),
      |p99 AS (SELECT event_type, min(v) AS p99 FROM r
      |        WHERE rnk * 100 >= n * 99 GROUP BY 1)
      |SELECT event_type, n, p50, p95, p99
      |FROM n JOIN p50 USING (event_type) JOIN p95 USING (event_type)
      |       JOIN p99 USING (event_type)
      |ORDER BY event_type""".stripMargin


  /** MAX CONCURRENCY per event type — each event opens a 30-minute
    * interval; the peak number of simultaneously-open intervals and the
    * first instant it is reached. The classic ops metric, computed as
    * the +1/−1 boundary sweep: one corpus-sized delta frame (two
    * row-local rows per event), ONE range-partitioned prefix sum over
    * (t, delta, event_id) — ends sort BEFORE starts at the same instant
    * (half-open intervals), and no per-type single-task window — then a
    * |types|-bounded peak broadcast and a struct-min for the first peak
    * instant. The same sweep prices concurrent-connection licensing,
    * peak session load, and room-booking overlap at any scale. */
  val q245_max_concurrency: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("event_type"),
      unix_millis(col("ts")).as("tsm"), col("event_id").cast("long").as("event_id"))
    val deltas = ev.select(col("event_type"), col("tsm").as("t"),
        lit(1L).as("delta"), col("event_id"))
      .unionAll(ev.select(col("event_type"),
        (col("tsm") + 1800000L).as("t"), lit(-1L).as("delta"),
        col("event_id")))
    val swept = graft.operators.RunningTotal.grouped(deltas, "event_type",
        Seq("t", "delta", "event_id"), "delta", "conc",
        groupCountHint = Some(64L))
      .localCheckpoint(true) // consumers: peak agg + first-peak-instant
    val peak = swept.groupBy(col("event_type"))
      .agg(max(col("conc")).as("peak"))
    swept.join(broadcast(peak),
        Seq("event_type"))
      .where(col("conc") === col("peak"))
      .groupBy(col("event_type"))
      .agg(max(col("peak")).as("peak"), min(col("t")).as("t_at_peak"))
      .orderBy(col("event_type"))
  }

  val q245_sql: String =
    """WITH e AS (SELECT event_type, epoch_ms(ts) AS tsm, event_id
      |           FROM events),
      |d AS (SELECT event_type, tsm AS t, 1 AS delta, event_id FROM e
      |      UNION ALL
      |      SELECT event_type, tsm + 1800000, -1, event_id FROM e),
      |c AS (SELECT event_type, t,
      |        sum(delta) OVER (PARTITION BY event_type
      |          ORDER BY t, delta, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
      |      FROM d),
      |p AS (SELECT event_type, max(conc)::BIGINT AS peak FROM c GROUP BY 1)
      |SELECT c.event_type, max(peak) AS peak,
      |       min(t) AS t_at_peak
      |FROM c JOIN p ON p.event_type = c.event_type AND c.conc = p.peak
      |GROUP BY c.event_type ORDER BY c.event_type""".stripMargin


  /** ASSOCIATION RULES from the frequent pairs (q237's level 2): both
    * directions of every frequent pair scored with CONFIDENCE
    * (supp(ab)/supp(a)) and LIFT (supp(ab)·n / (supp(a)·supp(b))) in
    * exact fixed-point ppm — the actionable "viewers also signed up"
    * deliverable. Everything runs on the |items|²-bounded frequent
    * frames from the one corpus-scanned support pass; margins attach by
    * broadcast. Integer div keeps the scores hash-exact. */
  val q248_association_rules: Q = (s, d) => {
    val b = Tables.events(s, d)
      .select(col("user_id"), expr("unix_millis(ts) div 86400000").as("day"),
        col("event_type"))
      .distinct()
      .localCheckpoint(true) // consumers: basket count + item supp + pairs
    val nb = b.select(col("user_id"), col("day")).distinct()
      .agg(count(lit(1)).as("nb"))
    val items = b.groupBy(col("event_type")).agg(count(lit(1)).as("supp"))
    val pairs = b.as("x").join(b.as("y"),
        col("x.user_id") === col("y.user_id") && col("x.day") === col("y.day")
          && col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("ia"), col("y.event_type").as("ib"))
      .agg(count(lit(1)).as("s_ab"))
      .crossJoin(broadcast(nb))
      .where(col("s_ab") * 1000 >= col("nb") * 70)
    val rules = pairs.select(col("ia").as("ante"), col("ib").as("cons"),
        col("s_ab"), col("nb"))
      .unionAll(pairs.select(col("ib").as("ante"), col("ia").as("cons"),
        col("s_ab"), col("nb")))
    rules
      .join(broadcast(items.select(col("event_type").as("ante"),
        col("supp").as("s_a"))), Seq("ante"))
      .join(broadcast(items.select(col("event_type").as("cons"),
        col("supp").as("s_c"))), Seq("cons"))
      .select(col("ante"), col("cons"), col("s_ab"),
        expr("s_ab * 1000000 div s_a").as("conf_ppm"),
        expr("s_ab * nb * 1000000 div (s_a * s_c)").as("lift_ppm"))
      .orderBy(col("ante"), col("cons"))
  }

  val q248_sql: String =
    """WITH b AS (SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day,
      |             event_type FROM events),
      |nb AS (SELECT count(*)::BIGINT AS nb FROM (
      |         SELECT DISTINCT user_id, day FROM b)),
      |it AS (SELECT event_type, count(*)::BIGINT AS supp FROM b GROUP BY 1),
      |pr AS (SELECT x.event_type AS ia, y.event_type AS ib,
      |              count(*)::BIGINT AS s_ab
      |       FROM b x JOIN b y ON x.user_id = y.user_id AND x.day = y.day
      |                        AND x.event_type < y.event_type
      |       GROUP BY 1, 2
      |       HAVING count(*) * 1000 >= (SELECT nb * 70 FROM nb)),
      |ru AS (SELECT ia AS ante, ib AS cons, s_ab FROM pr
      |       UNION ALL
      |       SELECT ib, ia, s_ab FROM pr)
      |SELECT ante, cons, s_ab,
      |       s_ab * 1000000 // a.supp AS conf_ppm,
      |       s_ab * (SELECT nb FROM nb) * 1000000 // (a.supp * c.supp)
      |         AS lift_ppm
      |FROM ru JOIN it a ON a.event_type = ru.ante
      |        JOIN it c ON c.event_type = ru.cons
      |ORDER BY ante, cons""".stripMargin


  /** REVENUE CONCENTRATION (the 80/20 audit): the share of total revenue
    * held by the top 1 % and top 10 % of orders — the Pareto-curve
    * points a billing or abuse team reads before the Gini (q225 gives
    * the one-number form for key COUNTS; this is the money version with
    * explicit curve points). Shape: per-order revenue is one map-side
    * combined aggregate; the global DESC rank rides the
    * range-partitioned prefix sum on the NEGATED revenue (constant
    * group, hint 1 — no single-task window); shares are integer ppm
    * against a 1-row broadcast total. */
  val q252_pareto_share: Q = (s, d) => {
    val rev = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("rev"))
      .withColumn("g", lit(0))
      .withColumn("one", lit(1L))
      .withColumn("nrev", -col("rev"))
      .localCheckpoint(true) // consumers: rank pass + totals
    val totals = rev.agg(count(lit(1)).as("n_orders"),
      sum(col("rev")).as("total_rev"))
    val ranked = graft.operators.RunningTotal.grouped(rev, "g",
      Seq("nrev", "l_orderkey"), "one", "rnk", groupCountHint = Some(1L))
    ranked.crossJoin(broadcast(totals))
      .agg(max(col("n_orders")).as("n_orders"),
        max(col("total_rev")).as("total_rev"),
        sum(when(col("rnk") * 100 <= col("n_orders"), col("rev"))
          .otherwise(0L)).as("top1_rev"),
        sum(when(col("rnk") * 10 <= col("n_orders"), col("rev"))
          .otherwise(0L)).as("top10_rev"))
      .select(col("n_orders"), col("total_rev"),
        expr("top1_rev * 1000000 div total_rev").as("top1_share_ppm"),
        expr("top10_rev * 1000000 div total_rev").as("top10_share_ppm"))
  }

  val q252_sql: String =
    """WITH r AS (SELECT l_orderkey,
      |    sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT AS rev
      |  FROM lineitem GROUP BY 1),
      |k AS (SELECT rev, row_number() OVER (ORDER BY rev DESC, l_orderkey)
      |        AS rnk, count(*) OVER () AS n FROM r)
      |SELECT max(n)::BIGINT AS n_orders, sum(rev)::BIGINT AS total_rev,
      |       CAST(sum(CASE WHEN rnk * 100 <= n THEN rev ELSE 0 END)
      |            * 1000000 // sum(rev) AS BIGINT) AS top1_share_ppm,
      |       CAST(sum(CASE WHEN rnk * 10 <= n THEN rev ELSE 0 END)
      |            * 1000000 // sum(rev) AS BIGINT) AS top10_share_ppm
      |FROM k""".stripMargin


  /** CONVERSION LATENCY bands: per user, the delay from FIRST view to
    * the first purchase AFTER it, summarized as exact p50/p95 over
    * converting users — the product-funnel health number. Shapes: both
    * firsts are conditional min aggregates in ONE map-side-combined
    * pass (no window, no self-join — `min(CASE)` per user); the band
    * thresholds ride the global prefix-sum rank (constant group,
    * hint 1) under the same integer rule as q244. */
  val q254_conversion_latency: Q = (s, d) => {
    val firsts = Tables.events(s, d)
      .select(col("user_id"), unix_millis(col("ts")).as("tsm"),
        col("event_type"))
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("tsm"))).as("tv"))
    val lat = Tables.events(s, d)
      .select(col("user_id"), unix_millis(col("ts")).as("tsm"),
        col("event_type"))
      .join(firsts, Seq("user_id"))
      .where(col("event_type") === "purchase" && col("tsm") >= col("tv"))
      .groupBy(col("user_id"))
      .agg((min(col("tsm")) - max(col("tv"))).as("latency_ms"))
      .withColumn("g", lit(0)).withColumn("one", lit(1L))
      .localCheckpoint(true) // consumers: rank pass + count
    val n = lat.agg(count(lit(1)).as("n_converted"))
    val ranked = graft.operators.RunningTotal.grouped(lat, "g",
      Seq("latency_ms", "user_id"), "one", "rnk", groupCountHint = Some(1L))
    def band(pct: Int, name: String) = ranked.crossJoin(broadcast(n))
      .where(col("rnk") * 100 >= col("n_converted") * pct)
      .agg(min(col("latency_ms")).as(name))
    n.crossJoin(broadcast(band(50, "p50_ms")))
      .crossJoin(broadcast(band(95, "p95_ms")))
  }

  val q254_sql: String =
    """WITH e AS (SELECT user_id, epoch_ms(ts) AS tsm, event_type
      |           FROM events),
      |f AS (SELECT user_id,
      |        min(CASE WHEN event_type = 'view' THEN tsm END) AS tv
      |      FROM e GROUP BY 1),
      |l AS (SELECT e.user_id, min(tsm) - max(tv) AS latency_ms
      |      FROM e JOIN f USING (user_id)
      |      WHERE event_type = 'purchase' AND tsm >= tv
      |      GROUP BY 1),
      |k AS (SELECT latency_ms,
      |        row_number() OVER (ORDER BY latency_ms, user_id) AS rnk,
      |        count(*) OVER () AS n FROM l)
      |SELECT max(n)::BIGINT AS n_converted,
      |       min(CASE WHEN rnk * 100 >= n * 50 THEN latency_ms END) AS p50_ms,
      |       min(CASE WHEN rnk * 100 >= n * 95 THEN latency_ms END) AS p95_ms
      |FROM k""".stripMargin
}
