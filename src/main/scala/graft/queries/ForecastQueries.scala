package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Time-series forecasting + customer-lifecycle analytics, split from
  * [[AnalyticsQueries]] (round-10 registry-size rule: no non-test file
  * over 2000 lines): Holt / Holt–Winters smoothing and their forecast
  * evaluation tail, Markov transition entropy, Theil/RFM/burstiness/
  * autocorrelation, cohort retention. Same contract as every registry:
  * each `q<N>_<name>` query has a DuckDB `q<N>_sql` twin with identical
  * column names and deterministic ordering. */
object ForecastQueries extends Registry {

  /** HOLT trend-adjusted smoothing per user — [[graft.operators.Ewma.holt]]:
    * the coupled (level, trend) integer recurrence through the two-long
    * sorted-run fold ([[graft.operators.KeyedFold.fold2]]); q202's EWMA
    * can only track a level, this also carries the slope — the
    * short-horizon forecast primitive. Raw SIGNED values (×10⁴ fixed
    * point) deliberately exercise the negative-trend path: JVM `/` and
    * DuckDB `//` both truncate toward zero, so the oracle's
    * list-of-lists `list_reduce` replay is hash-exact. One shuffle
    * (repartition by user) + one partition scan, O(1) state per key. */
  val q257_holt_trend: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("user_id"),
      unix_millis(col("ts")).as("tsm"), col("event_id"),
      round(col("value") * 10000).cast("long").as("x"))
    graft.operators.Ewma.holt(ev, "user_id", "tsm", "event_id", "x")
      .orderBy(col("event_id"))
  }

  val q257_sql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS tsm,
      |             CAST(round(value * 10000) AS BIGINT) AS x FROM events),
      |g AS (SELECT user_id, list(x ORDER BY tsm, event_id) AS xs,
      |        list(event_id ORDER BY tsm, event_id) AS ids
      |      FROM e GROUP BY 1),
      |u AS (SELECT user_id, unnest(ids) AS event_id, unnest(xs) AS x,
      |        unnest(list_transform(range(1, len(xs) + 1),
      |          i -> list_reduce(
      |            list_transform(xs[1:i], v -> [v, 0::BIGINT]),
      |            (a, b) -> [(a[1] + a[2] + b[1]) // 2,
      |                       (a[2] + (a[1] + a[2] + b[1]) // 2 - a[1]) // 2])))
      |          AS st
      |      FROM g)
      |SELECT user_id, event_id, x, st[1] AS level, st[2] AS trend
      |FROM u ORDER BY event_id""".stripMargin

  /** HOLT–WINTERS seasonal smoothing of daily per-event-type counts —
    * [[graft.operators.Ewma.holtWinters]] with weekly seasonality
    * (m = 7): the triple (level, trend, seasonal-slot) integer
    * recurrence over the sorted-run fold, m + 2 longs of state per key
    * no matter the series length. q257's Holt deseasonalizes nothing;
    * this subtracts the slot updated exactly m steps ago — the state a
    * window cannot see (it depends on the previous OUTPUT m steps back,
    * not the previous input). The oracle replays the full recurrence as
    * a `list_reduce` over (m+3)-long state lists with the slot update
    * done by a positional `list_transform` — identical truncating
    * division on both engines (verified −3 // 2 = −1 in DuckDB). Series
    * are daily counts, so the pre-fold aggregate bounds the fold input
    * to |types| × |days| rows. */
  val q279_holt_winters: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"),
        expr("unix_millis(ts) div 86400000").as("day"))
      .agg(count(lit(1)).as("x"))
    graft.operators.Ewma.holtWinters(daily, "event_type", "day", "x", m = 7)
      .orderBy(col("event_type"), col("day"))
  }

  val q279_sql: String = {
    // state list (1-based): [l, b, t, s1..s7]; slot for step t' = a[3]+1
    // is j = a[3] % 7 at position a[4 + j]. No let-bindings in DuckDB
    // lambdas, so l1 is inlined everywhere it appears.
    val sp = "a[4 + (a[3] % 7)]"
    val l1 = s"((a[1] + a[2] + (b[1] - $sp)) // 2)"
    val b1 = s"((a[2] + $l1 - a[1]) // 2)"
    val s1 = s"(($sp + (b[1] - $l1)) // 2)"
    s"""WITH e AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day,
      |             count(*)::BIGINT AS x
      |           FROM events GROUP BY 1, 2),
      |g AS (SELECT event_type, list(x ORDER BY day) AS xs,
      |        list(day ORDER BY day) AS ds
      |      FROM e GROUP BY 1),
      |u AS (SELECT event_type, unnest(ds) AS day, unnest(xs) AS x,
      |        unnest(list_transform(range(1, len(xs) + 1),
      |          i -> list_reduce(
      |            list_transform(xs[1:i],
      |              v -> [v, 0::BIGINT, 1::BIGINT, 0, 0, 0, 0, 0, 0, 0]),
      |            (a, b) -> [$l1, $b1, a[3] + 1]
      |                      || list_transform(range(7),
      |                           k -> CASE WHEN k = a[3] % 7 THEN $s1
      |                                     ELSE a[4 + k] END)))) AS st
      |      FROM g),
      |f AS (SELECT event_type, day, x,
      |        st[1] AS level, st[2] AS trend,
      |        st[4 + ((st[3] - 1) % 7)] AS seas
      |      FROM u)
      |SELECT event_type, day, x, level, trend, seas
      |FROM f ORDER BY event_type, day""".stripMargin
  }

  /** Shared q286/q287 frame: the Holt–Winters output with the ONE-STEP-
    * AHEAD forecast reconstructed by position windows — f_t = l_{t−1} +
    * b_{t−1} + s̄, where s̄ is the seasonal slot value before this
    * step's update, i.e. the seas emitted m POSITIONS ago (the fold
    * indexes slots by observation position, so lag(seas, m) is exact
    * even across calendar gaps; slots not yet updated lag to the init
    * row's 0 or to null, both coalescing to the fold's 0). Residuals
    * exist from position 2; the seasonal-naive baseline from position
    * m+1. */
  private def hwResiduals(s: SparkSession, d: String): DataFrame = {
    val m = 7
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"),
        expr("unix_millis(ts) div 86400000").as("day"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    graft.operators.Ewma.holtWinters(daily, "event_type", "day", "x", m)
      .withColumn("pos", row_number().over(w))
      .withColumn("f", lag(col("level"), 1).over(w) + lag(col("trend"), 1).over(w)
        + coalesce(lag(col("seas"), m).over(w), lit(0L)))
      .withColumn("resid", when(col("pos") >= 2, col("x") - col("f")))
      .withColumn("naive_resid",
        when(col("pos") >= m + 1, col("x") - lag(col("x"), m).over(w)))
  }

  /** Shared oracle CTEs: q279's fold replay + the same position
    * windows. Ends in `r(event_type, day, x, pos, resid, naive_resid)`.
    * Built by concatenation, NOT by interpolating into a stripMargin
    * literal: q279's replay has continuation lines starting with `||`
    * (list concat), and an outer stripMargin would eat one pipe. */
  private def hwResidCtes: String = {
    val base = q279_sql
      .stripSuffix("\nFROM f ORDER BY event_type, day")
      .stripSuffix("SELECT event_type, day, x, level, trend, seas")
      .replaceFirst("(?s)^WITH ", "")
    val tail =
      """r AS (SELECT event_type, day, x, pos,
        |        CASE WHEN pos >= 2 THEN x - f END AS resid,
        |        CASE WHEN pos >= 8 THEN x - xlag END AS naive_resid
        |      FROM (SELECT event_type, day, x,
        |              row_number() OVER w AS pos,
        |              lag(level, 1) OVER w + lag(trend, 1) OVER w
        |                + coalesce(lag(seas, 7) OVER w, 0) AS f,
        |              lag(x, 7) OVER w AS xlag
        |            FROM f WINDOW w AS (PARTITION BY event_type ORDER BY day)))""".stripMargin
    base + ",\n" + tail
  }

  /** FORECAST-SKILL evaluation (MASE form) — per event type, the
    * Holt–Winters one-step-ahead absolute error against the
    * seasonal-naive baseline (x_{t−m}), over the positions where both
    * are defined: mase_ppm = Σ|e_hw|·10⁶ div Σ|e_naive| — below
    * 1 000 000 means the smoother beats "same as last week", the
    * standard skill bar (Hyndman's MASE, integral form). Composes the
    * q279 fold; zero extra shuffles beyond its one repartition (the
    * windows share the (type, day) sort). */
  val q286_forecast_skill: Q = (s, d) => {
    hwResiduals(s, d).where(col("pos") >= 8)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_eval"),
        sum(abs(col("resid"))).as("sae_hw"),
        sum(abs(col("naive_resid"))).as("sae_naive"))
      .withColumn("mase_ppm",
        expr("sae_hw * 1000000 div greatest(1L, sae_naive)"))
      .orderBy(col("event_type"))
  }

  val q286_sql: String = "WITH " + hwResidCtes + "\n" +
    """SELECT event_type, count(*)::BIGINT AS n_eval,
      |       sum(abs(resid))::BIGINT AS sae_hw,
      |       sum(abs(naive_resid))::BIGINT AS sae_naive,
      |       (sum(abs(resid)) * 1000000
      |          // greatest(1, sum(abs(naive_resid))))::BIGINT AS mase_ppm
      |FROM r WHERE pos >= 8
      |GROUP BY 1 ORDER BY event_type""".stripMargin

  /** RESIDUAL ANOMALY FLAGS — the alerting tail of the forecasting
    * pipeline: per event type, the exact MAD (lower median of |resid|,
    * rank-picked with deterministic (|r|, day) ties) sets the robust
    * scale, and days with |resid| > 3·MAD + 1 are flagged (the +1 keeps
    * a zero-MAD series from flagging every nonzero residual). All rank
    * passes ride the same per-type sort class; frames are
    * |types|×|days|-bounded. */
  val q287_anomaly_flags: Q = (s, d) => {
    val resid = hwResiduals(s, d).where(col("pos") >= 2)
      .select(col("event_type"), col("day"), col("x"), col("resid"))
      .withColumn("ar", abs(col("resid")))
      .localCheckpoint(true) // consumers: median rank pass + flag scan
    val wr = Window.partitionBy(col("event_type"))
      .orderBy(col("ar"), col("day"))
    val mad = resid
      .withColumn("rn", row_number().over(wr))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .where(col("rn") * 2 >= col("n") + 1)
      .groupBy(col("event_type")).agg(min(col("ar")).as("mad"))
    resid.join(broadcast(mad), Seq("event_type"))
      .where(col("ar") > col("mad") * 3 + 1)
      .select(col("event_type"), col("day"), col("x"), col("resid"), col("mad"))
      .orderBy(col("event_type"), col("day"))
  }

  val q287_sql: String = "WITH " + hwResidCtes + ",\n" +
    """res AS (SELECT event_type, day, x, resid, abs(resid) AS ar
      |        FROM r WHERE pos >= 2),
      |md AS (SELECT event_type, min(ar)::BIGINT AS mad FROM (
      |         SELECT event_type, ar,
      |                row_number() OVER (PARTITION BY event_type
      |                                   ORDER BY ar, day) AS rn,
      |                count(*) OVER (PARTITION BY event_type) AS n
      |         FROM res)
      |       WHERE rn * 2 >= n + 1 GROUP BY 1)
      |SELECT res.event_type, res.day, res.x, res.resid, md.mad
      |FROM res JOIN md USING (event_type)
      |WHERE res.ar > md.mad * 3 + 1
      |ORDER BY event_type, day""".stripMargin

  /** MARKOV TRANSITION ENTROPY — the predictability audit of q203's
    * transition matrix: per source event type, the Shannon entropy of
    * the next-event distribution H(next | cur) in [[graft.functions.Ilog2]]
    * 16-bit fixed point (certified bits, not rational proxies), plus a
    * corpus row weighting the per-state entropies into the conditional
    * entropy of the whole chain. Near-zero entropy = deterministic
    * funnel; log2(|types|) = uniform noise. Shapes: one lag window over
    * the (user, ts) sort class, one (prev, next) count —
    * |types|²-bounded — then type-bounded aggregates; the il fold never
    * touches corpus rows. */
  val q280_transition_entropy: Q = (s, d) => {
    val il: Column => Column = graft.functions.Ilog2.ilog2
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val counts = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .where(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type")).agg(count(lit(1)).as("n"))
    val perState = counts.groupBy(col("prev_type"))
      .agg(sum(col("n")).as("n_trans"), count(lit(1)).as("n_dest"),
        sum(col("n") * il(col("n"))).as("s_fp"))
      .select(col("prev_type"), col("n_trans"), col("n_dest"),
        (il(col("n_trans")) - expr("s_fp div n_trans")).as("entropy_fp"))
      .localCheckpoint(true) // consumers: per-state rows + chain rollup
    val chain = perState
      .agg(sum(col("n_trans")).as("n_trans"),
        sum(col("n_dest")).as("n_dest"),
        expr("sum(n_trans * entropy_fp) div sum(n_trans)").as("entropy_fp"))
      .select(lit("__chain__").as("prev_type"), col("n_trans"),
        col("n_dest"), col("entropy_fp"))
    perState.unionByName(chain).orderBy(col("prev_type"))
  }

  val q280_sql: String = {
    val il = graft.functions.Ilog2.sqlReplay _
    s"""WITH p AS (SELECT user_id, event_type,
      |             lag(event_type) OVER (PARTITION BY user_id
      |               ORDER BY ts, event_id) AS prev_type
      |           FROM events),
      |c AS (SELECT prev_type, event_type AS next_type, count(*)::BIGINT AS n
      |      FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2),
      |st AS (SELECT prev_type, sum(n)::BIGINT AS n_trans,
      |         count(*)::BIGINT AS n_dest,
      |         sum(n * ${il("n")})::BIGINT AS s_fp
      |       FROM c GROUP BY 1),
      |pe AS (SELECT prev_type, n_trans, n_dest,
      |         (${il("n_trans")} - s_fp // n_trans)::BIGINT AS entropy_fp
      |       FROM st)
      |SELECT prev_type, n_trans, n_dest, entropy_fp FROM pe
      |UNION ALL
      |SELECT '__chain__', sum(n_trans)::BIGINT, sum(n_dest)::BIGINT,
      |       (sum(n_trans * entropy_fp) // sum(n_trans))::BIGINT
      |FROM pe
      |ORDER BY prev_type""".stripMargin
  }

  /** THEIL T inequality index of per-customer revenue, in certified
    * log2-based fixed point: T = Σ xᵢ·(log2(xᵢ·N) − log2(S)) div S
    * (the x/μ ratio rewritten integer-only: x/μ = x·N/S), every log the
    * [[graft.functions.Ilog2]] integer fold — the log-domain
    * concentration audit next to q225's Gini and q252's Pareto shares
    * (Theil is the decomposable one — it's the inequality measure that
    * sums across subgroups). Zero-revenue rows contribute 0 (the
    * x·log x limit). The product sum rides DECIMAL(38,0): xᵢ·Δlog
    * reaches 2^63 at ~10^5 customers. Output is one bounded row. */
  val q281_theil: Q = (s, d) => {
    val il: Column => Column = graft.functions.Ilog2.ilog2
    val rev = Tables.orders(s, d).groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("x"))
    val tot = rev.agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    rev.crossJoin(broadcast(tot))
      .agg(max(col("n")).as("n_cust"), max(col("s")).as("total_cents"),
        sum((col("x") * (il(col("x") * col("n")) - il(col("s"))))
          .cast("decimal(38,0)")).as("tnum"))
      .select(col("n_cust"), col("total_cents"),
        expr("CAST(tnum div total_cents AS BIGINT)").as("theil_fp"))
  }

  val q281_sql: String = {
    val il = graft.functions.Ilog2.sqlReplay _
    s"""WITH rev AS (SELECT o_custkey,
      |               sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS x
      |             FROM orders GROUP BY 1),
      |t AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS s FROM rev),
      |c AS (SELECT rev.x, t.n, t.s FROM rev CROSS JOIN t)
      |SELECT max(n)::BIGINT AS n_cust, max(s)::BIGINT AS total_cents,
      |       (sum((x * (${il("(x * n)")} - ${il("s")}))::HUGEINT)
      |        // max(s))::BIGINT AS theil_fp
      |FROM c""".stripMargin
  }

  /** RFM customer segmentation — recency / frequency / monetary quintile
    * scores from THREE range-partitioned prefix-sum rank passes over the
    * |customers|-sized aggregate frame (constant group, hint 1 — the
    * q244/q252 integer rule; never a full-orders sort), buckets by the
    * engine-independent `((rank−1)·5 div n)+1` rule rather than ntile.
    * Output is the 5×5×5 segment matrix with exact cent-sum monetary
    * totals — bounded to ≤125 rows no matter the corpus. */
  val q258_rfm_segments: Q = (s, d) => {
    val cust = Tables.orders(s, d).groupBy(col("o_custkey"))
      .agg(datediff(max(col("o_orderdate")), lit("1970-01-01"))
          .cast("long").as("rec"),
        count(lit(1)).as("freq"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("mon"))
      .withColumn("g", lit(0)).withColumn("one", lit(1L))
      .withColumn("nrec", -col("rec"))
      .withColumn("nfreq", -col("freq"))
      .withColumn("nmon", -col("mon"))
      .localCheckpoint(true) // consumers: three rank passes + total
    val n = cust.agg(count(lit(1)).as("n"))
    val r1 = graft.operators.RunningTotal.grouped(cust, "g",
      Seq("nrec", "o_custkey"), "one", "rn_r", groupCountHint = Some(1L))
    val r2 = graft.operators.RunningTotal.grouped(r1, "g",
      Seq("nfreq", "o_custkey"), "one", "rn_f", groupCountHint = Some(1L))
    val r3 = graft.operators.RunningTotal.grouped(r2, "g",
      Seq("nmon", "o_custkey"), "one", "rn_m", groupCountHint = Some(1L))
    r3.crossJoin(broadcast(n))
      .select(expr("(rn_r - 1) * 5 div n + 1").as("r_score"),
        expr("(rn_f - 1) * 5 div n + 1").as("f_score"),
        expr("(rn_m - 1) * 5 div n + 1").as("m_score"),
        col("mon"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_customers"), sum(col("mon")).as("mon_cents"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }

  val q258_sql: String =
    """WITH c AS (SELECT o_custkey,
      |    (max(o_orderdate)::DATE - DATE '1970-01-01')::BIGINT AS rec,
      |    count(*)::BIGINT AS freq,
      |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS mon
      |  FROM orders GROUP BY 1),
      |t AS (SELECT count(*)::BIGINT AS n FROM c),
      |r AS (SELECT o_custkey, mon,
      |        row_number() OVER (ORDER BY rec DESC, o_custkey) AS rn_r,
      |        row_number() OVER (ORDER BY freq DESC, o_custkey) AS rn_f,
      |        row_number() OVER (ORDER BY mon DESC, o_custkey) AS rn_m
      |      FROM c)
      |SELECT (rn_r - 1) * 5 // n + 1 AS r_score,
      |       (rn_f - 1) * 5 // n + 1 AS f_score,
      |       (rn_m - 1) * 5 // n + 1 AS m_score,
      |       count(*)::BIGINT AS n_customers, sum(mon)::BIGINT AS mon_cents
      |FROM r, t GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** BURSTINESS (Fano factor) of per-user inter-event gaps — the
    * traffic-shape audit that separates steady heartbeats (Fano → 0)
    * from bursty sessions (Fano ≫ mean): per user, var/mean of the gap
    * series as ONE keyed lag-window pass + one map-side-combined moment
    * aggregate. Per-row gap² fits a long, but the moment SUMS ride
    * DECIMAL(38,0)/HUGEINT (the q238 overflow rule) and the final ratio
    * is one IEEE division of two exactly-represented integers — so the
    * double hash-matches. */
  val q266_burstiness: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsm"), col("event_id"))
    val gaps = Tables.events(s, d).select(col("user_id"),
        unix_millis(col("ts")).as("tsm"), col("event_id"))
      .withColumn("prev", lag(col("tsm"), 1).over(w))
      .where(col("prev").isNotNull)
      .select(col("user_id"), (col("tsm") - col("prev")).as("g"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    gaps.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("g")).as("sg"),
        sum(dec(col("g")) * col("g")).as("sgg"))
      .where(col("n_gaps") >= 2 && col("sg") > 0)
      .select(col("user_id"), col("n_gaps"),
        expr("sg div n_gaps").as("mean_gap_ms"),
        ((dec(col("n_gaps")) * col("sgg") - dec(col("sg")) * col("sg"))
          .cast("double")
          / (dec(col("n_gaps")) * col("sg")).cast("double")).as("fano"))
      .orderBy(col("user_id"))
  }

  val q266_sql: String =
    """WITH e AS (SELECT user_id, epoch_ms(ts) AS tsm, event_id
      |           FROM events),
      |g AS (SELECT user_id, tsm - lag(tsm) OVER (PARTITION BY user_id
      |        ORDER BY tsm, event_id) AS g FROM e),
      |a AS (SELECT user_id, count(*)::BIGINT AS n_gaps,
      |        sum(g)::BIGINT AS sg, sum(g::HUGEINT * g) AS sgg
      |      FROM g WHERE g IS NOT NULL GROUP BY 1)
      |SELECT user_id, n_gaps, sg // n_gaps AS mean_gap_ms,
      |       CAST(n_gaps::HUGEINT * sgg - sg::HUGEINT * sg AS DOUBLE)
      |         / CAST(n_gaps::HUGEINT * sg AS DOUBLE) AS fano
      |FROM a WHERE n_gaps >= 2 AND sg > 0 ORDER BY user_id""".stripMargin

  /** AUTOCORRELATION (ACF at lags 1 and 7) of the daily count series
    * per event type — the seasonality detector that justifies q279's
    * m=7: r_k = Σ(x_t−x̄)(x_{t−k}−x̄) / Σ(x_t−x̄)², made integer-exact
    * by clearing the mean's denominator — d_t = n·x_t − S is integral,
    * and r_k is invariant under the common n² factor, so
    * r_k_ppm = 10⁶·Σ d_t d_{t−k} div Σ d_t². Lags index OBSERVED
    * positions (the fold convention q279/q286 use), not calendar days.
    * One groupBy + windows on one (type, day) sort class; products ride
    * DECIMAL(38,0)/HUGEINT (q238 overflow rule); constant series
    * (denominator 0) are excluded on both sides. */
  val q288_autocorrelation: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"),
        expr("unix_millis(ts) div 86400000").as("day"))
      .agg(count(lit(1)).as("x"))
    val wt = Window.partitionBy(col("event_type"))
    val w = wt.orderBy(col("day"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    daily
      .withColumn("n", count(lit(1)).over(wt))
      .withColumn("sx", sum(col("x")).over(wt))
      .withColumn("dv", col("n") * col("x") - col("sx"))
      .withColumn("d1", lag(col("dv"), 1).over(w))
      .withColumn("d7", lag(col("dv"), 7).over(w))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_days"),
        sum(dec(col("dv")) * col("dv")).as("den"),
        sum(dec(col("dv")) * col("d1")).as("num1"),
        sum(dec(col("dv")) * col("d7")).as("num7"))
      .where(col("den") > 0)
      .select(col("event_type"), col("n_days"),
        expr("(num1 * 1000000) div den").as("lag1_ppm"),
        expr("(num7 * 1000000) div den").as("lag7_ppm"))
      .orderBy(col("event_type"))
  }

  val q288_sql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_ms(ts) // 86400000 AS day,
      |         count(*)::BIGINT AS x
      |  FROM events GROUP BY 1, 2),
      |ctr AS (
      |  SELECT event_type, day,
      |         count(*) OVER (PARTITION BY event_type) AS n,
      |         count(*) OVER (PARTITION BY event_type) * x
      |           - sum(x) OVER (PARTITION BY event_type) AS dv
      |  FROM daily),
      |dev AS (
      |  SELECT event_type, n, dv,
      |         lag(dv, 1) OVER w AS d1, lag(dv, 7) OVER w AS d7
      |  FROM ctr WINDOW w AS (PARTITION BY event_type ORDER BY day)),
      |a AS (
      |  SELECT event_type, max(n)::BIGINT AS n_days,
      |         sum(dv::HUGEINT * dv) AS den,
      |         sum(dv::HUGEINT * d1) AS num1,
      |         sum(dv::HUGEINT * d7) AS num7
      |  FROM dev GROUP BY 1)
      |SELECT event_type, n_days,
      |       ((num1 * 1000000) // den)::BIGINT AS lag1_ppm,
      |       ((num7 * 1000000) // den)::BIGINT AS lag7_ppm
      |FROM a WHERE den > 0 ORDER BY event_type""".stripMargin

  /** COHORT RETENTION TRIANGLE — the product-analytics staple: users
    * cohorted by the epoch week of their FIRST event, each cell
    * (cohort_week, offset_weeks) counting distinct users still active
    * that many weeks later. Shapes: one distinct (user, week) reduction,
    * one user-keyed min aggregate, one user-keyed join back — the join
    * and both aggregates share the user_id hash partitioning, so the
    * exchange is reused across all three (no re-shuffle of the activity
    * frame); the output grid is |weeks|²-bounded. No window, no per-user
    * history materialization — the shape that survives a 100 TB events
    * table where per-user event counts are unbounded. */
  val q292_cohort_retention: Q = (s, d) => {
    val uw = Tables.events(s, d)
      .select(col("user_id"), expr("unix_millis(ts) div 604800000").as("week"))
      .distinct()
      .localCheckpoint(true) // consumers: cohort min + activity join
    val cohort = uw.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    uw.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("offset_weeks"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("offset_weeks"))
  }

  val q292_sql: String =
    """WITH uw AS (SELECT DISTINCT user_id, epoch_ms(ts) // 604800000 AS week
      |            FROM events),
      |c AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY 1)
      |SELECT c.cohort_week, (uw.week - c.cohort_week)::BIGINT AS offset_weeks,
      |       count(DISTINCT uw.user_id)::BIGINT AS n_users
      |FROM uw JOIN c USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q398: Theil–Sen robust trend ---------------------------------------

  /** Theil–Sen slope of the daily revenue series per event type — the
    * ROBUST trend estimator (Theil 1950, Sen 1968): the lower median of
    * all pairwise slopes (y_j − y_i)/(day_j − day_i), which a single
    * corrupted day cannot move (breakdown point ~29%, vs 0% for the OLS
    * slope the q317 family fits). Completes the robust-location trio —
    * q364's Hodges–Lehmann shift, q393's trimmed mean, and now the
    * robust SLOPE. Slopes quantize per pair: (y_j − y_i)·10⁶ div
    * (day_j − day_i) in DECIMAL(38,0) (signed; Spark `div` and DuckDB
    * `//` both truncate toward zero), then the lower median is the
    * q364 cumulative-count scan. Shapes: ONE corpus pass to the
    * ≤31-row-per-type daily frame; the pair self-join (≤ 465 pairs per
    * type) and its median window run entirely inside that calendar-
    * bounded frame — the bounded-window license. A single-day type has
    * no pairs: it surfaces with n_pairs = 0 and a NULL slope (left join
    * from the type universe), never vanishes. */
  val q398_theil_sen: Q = (s, d) => theilSen(Tables.events(s, d).select(
    col("event_type").as("g"),
    expr("unix_millis(ts) div 86400000").as("day"),
    expr("cast(round(value * 100) as bigint)").as("v")))

  /** Core over the raw (g, day, v) relation — fuzz/stress entry point. */
  def theilSen(rel: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val daily = rel.groupBy(col("g"), col("day"))
      .agg(sum(col("v")).as("y"))
      .localCheckpoint(true) // ≤31·|types| rows; consumers: pairs ×2 + universe
    val pairs = daily.as("a")
      .join(daily.as("b"), col("a.g") === col("b.g") &&
        col("a.day") < col("b.day"))
      .select(col("a.g").as("g"),
        expr(s"""cast(cast(b.y - a.y as $dec) * 1000000
          div (b.day - a.day) as bigint)""").as("slope_ppm"))
    val w = Window.partitionBy(col("g")).orderBy(col("slope_ppm"))
    val med = pairs
      .withColumn("rn", row_number().over(w))
      .withColumn("t", count(lit(1)).over(Window.partitionBy(col("g"))))
      .where(col("rn") === expr("(t + 1) div 2"))
      .select(col("g"), col("t").as("n_pairs"),
        col("slope_ppm").as("ts_slope_ppm"))
    daily.groupBy(col("g")).agg(count(lit(1)).as("n_days"))
      .join(broadcast(med), Seq("g"), "left")
      .na.fill(0L, Seq("n_pairs"))
      .select(col("g").as("event_type"), col("n_days"), col("n_pairs"),
        col("ts_slope_ppm"))
      .orderBy(col("event_type"))
  }
  val q398_sql: String =
    """WITH rel AS (SELECT event_type AS g, epoch_ms(ts) // 86400000 AS day,
      |    CAST(round(value * 100) AS BIGINT) AS v FROM events),
      |daily AS (SELECT g, day, sum(v)::BIGINT AS y FROM rel GROUP BY 1, 2),
      |pairs AS (SELECT a.g,
      |    ((b.y - a.y)::HUGEINT * 1000000 // (b.day - a.day))::BIGINT
      |      AS slope_ppm
      |  FROM daily a JOIN daily b ON b.g = a.g AND a.day < b.day),
      |rk AS (SELECT g, slope_ppm,
      |         row_number() OVER (PARTITION BY g ORDER BY slope_ppm) AS rn,
      |         count(*) OVER (PARTITION BY g) AS t
      |       FROM pairs),
      |med AS (SELECT g, t::BIGINT AS n_pairs, slope_ppm AS ts_slope_ppm
      |        FROM rk WHERE rn = (t + 1) // 2),
      |uni AS (SELECT g, count(*)::BIGINT AS n_days FROM daily GROUP BY 1)
      |SELECT uni.g AS event_type, n_days,
      |  coalesce(n_pairs, 0)::BIGINT AS n_pairs, ts_slope_ppm
      |FROM uni LEFT JOIN med ON med.g = uni.g
      |ORDER BY event_type""".stripMargin

  // ---- q403: day-of-week seasonal strength (correlation ratio η²) --------

  /** How much of the daily-count variance does day-of-week explain? The
    * correlation ratio η² = SSB/SST over the dow grouping — the seasonal-
    * strength readout that decides whether a forecast family (q279's
    * Holt-Winters ring, q287's anomaly bands) needs a weekly seasonal
    * term at all. Exact arithmetic: with per-type totals S = Σx, Q = Σx²
    * over N days and per-dow (S_g, n_g), N·SST = N·Q − S² and N·SSB =
    * Σ_g (N·S_g²) div n_g − S² (per-group floor — the q332/q271
    * fixed-point convention; the dropped sub-integer remainder is
    * < 7/SST ppm, and because the floors only ever REDUCE the summed
    * term, a near-zero true SSB can surface as a small negative — the
    * readout clamps at 0 on both engines, keeping η² ∈ [0, 1]
    * structural). η²·10⁶ = ssb_n·10⁶ div sst_n, NULL on a constant
    * series (SST = 0 — fail closed, never a fabricated 0 or 1). Day
    * numbering: Unix day + 4 so weekday 0 = Sunday (the q330 weekend
    * convention). Shapes: one corpus pass to the calendar-bounded daily
    * frame, one ≤ 7-row grid per type, grid algebra after — nothing
    * quadratic, nothing collected. */
  val q403_dow_eta2: Q = (s, d) => dowEta2(
    Tables.events(s, d).select(col("event_type"),
      expr("unix_millis(ts) div 86400000").as("day")))

  /** Core over the raw (event_type, day) event rows — fuzz/stress entry
    * point (duplication multiplies the daily counts). */
  def dowEta2(rel: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val daily = rel
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("x"))
      .withColumn("dow", expr("(day + 4) % 7"))
    val tot = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("s"),
        sum(expr(s"cast(x as $dec) * x")).as("q"))
    val grid = daily.groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n_g"), sum(col("x")).as("s_g"))
      .join(tot.select(col("event_type"), col("n_days")), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(sum(expr(s"cast(n_days as $dec) * s_g * s_g div n_g")).as("t"))
    tot.join(grid, Seq("event_type"))
      .select(col("event_type"), col("n_days"),
        expr(s"cast(cast(n_days as $dec) * q - cast(s as $dec) * s as $dec)")
          .as("__sst"),
        // the per-group floors only ever REDUCE t, so the true SSB ≥ 0 can
        // surface as a small negative — clamp at 0 (never above: floors
        // can't raise t, and SST is exact, so ssb ≤ sst is structural)
        expr(s"greatest(cast(t - cast(s as $dec) * s as $dec)," +
          s" cast(0 as $dec))").as("__ssb"))
      .select(col("event_type"), col("n_days"),
        col("__sst").cast("long").as("sst_n"),
        col("__ssb").cast("long").as("ssb_n"),
        expr("cast(__ssb * 1000000 div nullif(__sst, 0) as bigint)")
          .as("eta2_ppm"))
      .orderBy(col("event_type"))
  }
  val q403_sql: String =
    """WITH daily AS (SELECT event_type AS g,
      |    epoch_ms(ts) // 86400000 AS day, count(*)::BIGINT AS x
      |  FROM events GROUP BY 1, 2),
      |tot AS (SELECT g, count(*)::BIGINT AS n_days, sum(x)::HUGEINT AS s,
      |    sum(x::HUGEINT * x)::HUGEINT AS q
      |  FROM daily GROUP BY 1),
      |grid AS (SELECT d.g, sum(t.n_days::HUGEINT * s_g * s_g // n_g) AS t
      |  FROM (SELECT g, (day + 4) % 7 AS dow, count(*)::BIGINT AS n_g,
      |          sum(x)::HUGEINT AS s_g
      |        FROM daily GROUP BY 1, 2) d
      |  JOIN tot t ON t.g = d.g
      |  GROUP BY 1)
      |SELECT tot.g AS event_type, n_days,
      |  (n_days::HUGEINT * q - s * s)::BIGINT AS sst_n,
      |  greatest(t - s * s, 0)::BIGINT AS ssb_n,
      |  (greatest(t - s * s, 0) * 1000000
      |   // nullif(n_days::HUGEINT * q - s * s, 0))
      |    ::BIGINT AS eta2_ppm
      |FROM tot JOIN grid ON grid.g = tot.g
      |ORDER BY event_type""".stripMargin
}
