package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.operators.{AsOfJoin, RunningTotal}

/** Distribution calibration over the corpus tables: cross-source
  * quantile normalization (the rank-based batch-effect removal of
  * Bolstad et al. 2003, recast as inverse-CDF mapping onto the pooled
  * distribution) and isotonic calibration of a score→outcome curve (the
  * monotone regression of Ayer et al. 1955 / Barlow & Brunk 1972, via
  * the minimax characterization rather than the sequential PAV sweep —
  * the sequential pooler is inherently driver-shaped, the minimax is
  * pure bounded-frame algebra).
  *
  * Scale notes (100 TB): both queries reduce the corpus to
  * DISTINCT-VALUE frames in one map-side-combinable pass (per-(source,
  * length) counts; per-(event_type, score-bucket) sums). Every window,
  * self-join, and as-of sweep after that runs on domain-bounded rows —
  * document lengths and the [0,99] score domain — so the post-scan cost
  * is invariant in corpus size. All arithmetic is integral ppm
  * (operands nonnegative by construction, so Spark's `div` and DuckDB's
  * `//` agree) with DECIMAL(38,0)/HUGEINT guarding the 10⁶ scaling.
  */
object CalibrationQueries extends Registry {

  private val dec = "decimal(38,0)"

  // ---- q349: cross-source quantile normalization --------------------------

  /** Quantile-normalize document lengths across sources: each (source,
    * length) point maps to the POOLED length at the same CDF position —
    * v_norm(v) = min global v' with F_pool(v')·n_s ≥ F_source(v)·N (the
    * right-continuous inverse-CDF convention; cross-multiplied so no
    * fraction ever exists). After the mapping every source draws from
    * the same pooled distribution, which the output makes visible:
    * per-source raw means diverge, normalized means agree to the ppm
    * floor. Shapes: ONE corpus pass to the (source, v) count frame;
    * per-source CDFs via [[RunningTotal]]'s range-partitioned prefix
    * sum; the pooled CDF reuses the SAME reduced frame (no second
    * scan); the rank-line lookup is [[AsOfJoin]] forward mode on the
    * cumulative-count axis — a single sweep over the value-domain-
    * bounded union, not an all-pairs join. */
  def quantileNorm(docs: DataFrame): DataFrame = {
    val sv = docs
      .groupBy(col("source"), col("v")).agg(count(lit(1)).as("c_s"))
      .localCheckpoint(true) // consumers: per-source CDF, totals, pooled CDF
    val cumS = RunningTotal.grouped(sv, "source", Seq("v"), "c_s", "cum_s",
      groupCountHint = Some(64L))
    val ns = sv.groupBy(col("source")).agg(sum(col("c_s")).as("n_s"))
    val gv = sv.groupBy(col("v")).agg(sum(col("c_s")).as("c_g"))
      .withColumn("g0", lit(0))
    val cumG = RunningTotal.grouped(gv, "g0", Seq("v"), "c_g", "cum_g",
      groupCountHint = Some(1L))
    val tot = gv.agg(sum(col("c_g")).as("n_tot"))
    val left = cumS.join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(tot))
      .withColumn("target", expr(s"""cast(
          (cast(cum_s as $dec) * n_tot + n_s - 1) div n_s
        as bigint)"""))
      .withColumn("k0", lit(0))
    val right = cumG.select(col("v").as("v_norm"), col("cum_g"))
      .withColumn("k0", lit(0))
    val mapped = AsOfJoin.asOf(left, right, Seq("k0"),
      leftTs = "target", rightTs = "cum_g", rightVals = Seq("v_norm"),
      inner = true, forward = true)
    mapped.groupBy(col("source"))
      .agg(first(col("n_s")).as("n_s"),
        sum(expr(s"cast(c_s as $dec) * v")).as("sv_raw"),
        sum(expr(s"cast(c_s as $dec) * v_norm")).as("sv_norm"),
        min(col("v_norm")).as("min_norm"), max(col("v_norm")).as("max_norm"))
      .select(col("source"), col("n_s"),
        expr("cast(sv_raw * 1000000 div n_s as bigint)").as("mean_raw_ppm"),
        expr("cast(sv_norm * 1000000 div n_s as bigint)").as("mean_norm_ppm"),
        col("min_norm"), col("max_norm"))
      .orderBy(col("source"))
  }
  val q349_quantile_norm: Q = (s, d) => quantileNorm(Tables.documents(s, d)
    .select(col("source"), col("n_chars").cast("long").as("v")))
  val q349_sql: String =
    """WITH d AS (SELECT source, n_chars::BIGINT AS v FROM documents),
      |sv AS (SELECT source, v, count(*)::BIGINT AS c_s FROM d GROUP BY 1, 2),
      |cums AS (SELECT source, v, c_s,
      |           sum(c_s) OVER (PARTITION BY source ORDER BY v)::BIGINT
      |             AS cum_s
      |         FROM sv),
      |ns AS (SELECT source, sum(c_s)::BIGINT AS n_s FROM sv GROUP BY 1),
      |gv AS (SELECT v, sum(c_s)::BIGINT AS c_g FROM sv GROUP BY 1),
      |cumg AS (SELECT v, sum(c_g) OVER (ORDER BY v)::BIGINT AS cum_g FROM gv),
      |tot AS (SELECT sum(c_g)::BIGINT AS n_tot FROM gv),
      |lft AS (SELECT cums.source, cums.v, cums.c_s, cums.cum_s, ns.n_s, n_tot
      |        FROM cums JOIN ns USING (source) CROSS JOIN tot),
      |nrm AS (SELECT l.source, l.v, l.c_s, l.n_s, min(r.v) AS v_norm
      |        FROM lft l JOIN cumg r
      |          ON r.cum_g::HUGEINT * l.n_s >= l.cum_s::HUGEINT * l.n_tot
      |        GROUP BY 1, 2, 3, 4)
      |SELECT source, any_value(n_s)::BIGINT AS n_s,
      |  (sum(c_s::HUGEINT * v) * 1000000 // any_value(n_s))::BIGINT
      |    AS mean_raw_ppm,
      |  (sum(c_s::HUGEINT * v_norm) * 1000000 // any_value(n_s))::BIGINT
      |    AS mean_norm_ppm,
      |  min(v_norm)::BIGINT AS min_norm, max(v_norm)::BIGINT AS max_norm
      |FROM nrm GROUP BY 1 ORDER BY source""".stripMargin

  // ---- q350: isotonic calibration curve (minimax form) --------------------

  /** Isotonic regression of event value (cents) on the `props.k` score,
    * per event type — "is a higher k actually worth more?" turned into
    * the best monotone fit. Instead of the sequential
    * pool-adjacent-violators sweep, the fit uses the minimax
    * characterization f(i) = max_{j≤i} min_{k≥i} avg(j..k) on the
    * score-bucket frame, with interval averages floored to integral
    * ppm. Flooring commutes with both min and max, so the result is
    * EXACTLY floor(PAV·10⁶) — not an approximation (PavSpec recomputes
    * the sequential pooler in exact rationals and matches) — and
    * monotonicity is STRUCTURAL (growing j-set, shrinking k-set).
    * Every operation is a bounded-frame join or aggregate, and the
    * floored minimax is deterministic on both engines, so the curve
    * hash-certifies. With B ≤ 100 buckets per type the triple expansion
    * is B(B+1)(B+2)/6 ≈ 1.8·10⁵ rows per type — constant in corpus
    * size; the ONLY corpus-scale operation is the first groupBy. The
    * prefix windows run on the reduced per-type frames (≤ 100 rows
    * each — the bounded-window license). */
  def isotonic(ptsIn: DataFrame): DataFrame = {
    val pts = ptsIn
      .where(col("x").isNotNull)
      .groupBy(col("g"), col("x"))
      .agg(count(lit(1)).as("n_b"), sum(col("y")).as("s_b"))
    val w = Window.partitionBy(col("g")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val p = pts
      .withColumn("i", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("x"))))
      .withColumn("cum_n", sum(col("n_b")).over(w))
      .withColumn("cum_s", sum(col("s_b")).over(w))
      .localCheckpoint(true) // consumers: interval ends, starts, probe, readout
    val pk = p.select(col("g"), col("i").as("k"), col("cum_n").as("nk"),
      col("cum_s").as("sk"))
    val pj = p.select(col("g").as("gj"), col("i").as("jm1"),
        col("cum_n").as("njm"), col("cum_s").as("sjm"))
      .unionByName(p.select(col("g").as("gj")).distinct()
        .withColumn("jm1", lit(1) - 1).withColumn("njm", lit(0L))
        .withColumn("sjm", lit(0L)))
    val iv = pk.join(broadcast(pj), col("g") === col("gj") && col("jm1") < col("k"))
      .select(col("g"), (col("jm1") + 1).as("j"), col("k"),
        expr(s"""cast(
            (cast(sk - sjm as $dec) * 1000000) div (nk - njm)
          as bigint)""").as("a_ppm"))
    val tri = iv.join(broadcast(p.select(col("g").as("gg"), col("i"))),
      iv("g") === col("gg") && col("j") <= col("i") && col("i") <= col("k"))
    val f = tri.groupBy(col("g"), col("i"), col("j"))
      .agg(min(col("a_ppm")).as("m_a"))
      .groupBy(col("g"), col("i"))
      .agg(max(col("m_a")).as("iso_cents_ppm"))
    p.join(f, Seq("g", "i"))
      .select(col("g").as("event_type"), col("x").as("k_val"), col("n_b"),
        expr(s"cast(cast(s_b as $dec) * 1000000 div n_b as bigint)")
          .as("raw_cents_ppm"),
        col("iso_cents_ppm"))
      .orderBy(col("event_type"), col("k_val"))
  }
  val q350_isotonic: Q = (s, d) => isotonic(Tables.events(s, d).select(
    col("event_type").as("g"),
    expr("try_cast(get_json_object(props, '$.k') as long)").as("x"),
    expr("cast(round(value * 100) as bigint)").as("y")))
  val q350_sql: String =
    """WITH pts AS (SELECT event_type AS g,
      |    TRY_CAST(json_extract(props, '$.k') AS BIGINT) AS x,
      |    CAST(round(value * 100) AS BIGINT) AS y
      |  FROM events
      |  WHERE TRY_CAST(json_extract(props, '$.k') AS BIGINT) IS NOT NULL),
      |agg AS (SELECT g, x, count(*)::BIGINT AS n_b, sum(y)::BIGINT AS s_b
      |        FROM pts GROUP BY 1, 2),
      |p AS (SELECT g, x, n_b, s_b,
      |        row_number() OVER (PARTITION BY g ORDER BY x) AS i,
      |        sum(n_b) OVER (PARTITION BY g ORDER BY x)::BIGINT AS cum_n,
      |        sum(s_b) OVER (PARTITION BY g ORDER BY x)::BIGINT AS cum_s
      |      FROM agg),
      |pj AS (SELECT g, i AS jm1, cum_n AS njm, cum_s AS sjm FROM p
      |       UNION ALL SELECT DISTINCT g, 0, 0::BIGINT, 0::BIGINT FROM p),
      |iv AS (SELECT pk.g, pj.jm1 + 1 AS j, pk.i AS k,
      |         ((pk.cum_s - pj.sjm)::HUGEINT * 1000000
      |          // (pk.cum_n - pj.njm))::BIGINT AS a_ppm
      |       FROM p pk JOIN pj ON pj.g = pk.g AND pj.jm1 < pk.i),
      |tri AS (SELECT iv.g, pi.i, iv.j, iv.a_ppm
      |        FROM iv JOIN p pi
      |          ON pi.g = iv.g AND iv.j <= pi.i AND pi.i <= iv.k),
      |m AS (SELECT g, i, j, min(a_ppm) AS m_a FROM tri GROUP BY 1, 2, 3),
      |f AS (SELECT g, i, max(m_a)::BIGINT AS iso_cents_ppm FROM m
      |      GROUP BY 1, 2)
      |SELECT p.g AS event_type, p.x AS k_val, p.n_b,
      |  (p.s_b::HUGEINT * 1000000 // p.n_b)::BIGINT AS raw_cents_ppm,
      |  f.iso_cents_ppm
      |FROM p JOIN f ON f.g = p.g AND f.i = p.i
      |ORDER BY event_type, k_val""".stripMargin

  // ---- q345: split-conformal calibration gate -----------------------------

  /** Split-conformal prediction gate per event type (Vovk et al.;
    * Papadopoulos et al. 2002): the calibration half (even event_ids)
    * fixes q̂ = the k-th smallest calibration score with k =
    * ⌈0.9·(n_cal+1)⌉ — the finite-sample-correct conformal quantile, NOT
    * the naive 90th percentile — and the held-out half reports its
    * empirical coverage of `score ≤ q̂` to ppm. This is the
    * distribution-free "is my anomaly threshold actually calibrated?"
    * audit an eval pipeline wants, and at corpus scale the k-th order
    * statistic is the same machinery as q338's Sen median: the
    * calibration corpus reduces to per-(type, score) counts in one
    * map-side-combinable pass, the range-partitioned prefix sum ranks
    * them (no per-group window), and q̂ is one filter + min. Fail-closed:
    * n_cal < 9 makes k exceed n_cal — q̂ is conventionally +∞, surfaced
    * as NULL (with NULL coverage), never a fabricated threshold; a type
    * with q̂ but no test rows gets NULL coverage via the 0-divide guard.
    * All arithmetic integral: k by ceiling division, coverage one exact
    * division to ppm. */
  def conformalGate(ev: DataFrame, covPct: Int = 90): DataFrame = {
    require(covPct >= 1 && covPct <= 99, s"covPct in [1,99] (got $covPct)")
    val tagged = ev.withColumn("is_cal", col("eid") % 2 === 0)
      .localCheckpoint(true) // consumers: stats, calibration ranks, test
    val stats = tagged.groupBy(col("g")).agg(
        sum(when(col("is_cal"), 1L).otherwise(0L)).as("n_cal"),
        sum(when(!col("is_cal"), 1L).otherwise(0L)).as("n_test"))
      .withColumn("k", expr(s"($covPct * (n_cal + 1) + 99) div 100"))
    val ps = tagged.where(col("is_cal"))
      .groupBy(col("g"), col("score")).agg(count(lit(1)).as("c_s"))
    val cum = RunningTotal.grouped(ps, "g", Seq("score"), "c_s", "cum_n",
      groupCountHint = Some(64L))
    val qhat = cum.join(broadcast(stats.select(col("g"), col("k"))), Seq("g"))
      .where(col("cum_n") >= col("k"))
      .groupBy(col("g")).agg(min(col("score")).as("q_hat"))
    val cov = tagged.where(!col("is_cal"))
      .join(broadcast(qhat), Seq("g"))
      .groupBy(col("g"))
      .agg(sum(when(col("score") <= col("q_hat"), 1L).otherwise(0L))
        .as("n_covered"))
    stats.join(qhat, Seq("g"), "left").join(cov, Seq("g"), "left")
      .select(col("g").as("event_type"), col("n_cal"), col("n_test"),
        col("k"), col("q_hat"), col("n_covered"),
        expr("cast(n_covered * 1000000 div nullif(n_test, 0) as bigint)")
          .as("coverage_ppm"))
      .withColumn("meets_nominal",
        coalesce(col("coverage_ppm") >= lit(covPct * 10000L), lit(false)))
      .orderBy(col("event_type"))
  }
  val q345_conformal_gate: Q = (s, d) => conformalGate(
    Tables.events(s, d).select(col("event_type").as("g"),
      col("event_id").cast("long").as("eid"),
      expr("cast(round(value * 100) as bigint)").as("score")))
  val q345_sql: String =
    """WITH ev AS (SELECT event_type AS g, event_id::BIGINT AS eid,
      |    CAST(round(value * 100) AS BIGINT) AS score FROM events),
      |t AS (SELECT g, score, (eid % 2 = 0) AS is_cal FROM ev),
      |stats AS (SELECT g,
      |    sum(CASE WHEN is_cal THEN 1 ELSE 0 END)::BIGINT AS n_cal,
      |    sum(CASE WHEN is_cal THEN 0 ELSE 1 END)::BIGINT AS n_test
      |  FROM t GROUP BY 1),
      |s2 AS (SELECT g, n_cal, n_test,
      |         (90 * (n_cal + 1) + 99) // 100 AS k FROM stats),
      |ps AS (SELECT g, score, count(*)::BIGINT AS c_s FROM t
      |       WHERE is_cal GROUP BY 1, 2),
      |cum AS (SELECT g, score,
      |          sum(c_s) OVER (PARTITION BY g ORDER BY score)::BIGINT
      |            AS cum_n
      |        FROM ps),
      |qh AS (SELECT cum.g, min(score)::BIGINT AS q_hat
      |       FROM cum JOIN s2 USING (g) WHERE cum_n >= k GROUP BY 1),
      |cov AS (SELECT t.g,
      |          sum(CASE WHEN score <= q_hat THEN 1 ELSE 0 END)::BIGINT
      |            AS n_covered
      |        FROM t JOIN qh ON t.g = qh.g WHERE NOT is_cal GROUP BY 1)
      |SELECT s2.g AS event_type, n_cal, n_test, k, q_hat, n_covered,
      |  (n_covered * 1000000 // nullif(n_test, 0))::BIGINT AS coverage_ppm,
      |  coalesce(n_covered * 1000000 // nullif(n_test, 0) >= 900000, false)
      |    AS meets_nominal
      |FROM s2 LEFT JOIN qh ON s2.g = qh.g LEFT JOIN cov ON s2.g = cov.g
      |ORDER BY event_type""".stripMargin

  // ---- q407: Brier score + Murphy decomposition --------------------------

  /** Brier score of a binned probabilistic classifier with the Murphy
    * (1973) decomposition — reliability (calibration error), resolution
    * (how much the bins separate outcomes), and uncertainty (the
    * no-skill floor): the standard readout for "is this quality score a
    * PROBABILITY or just a ranking". Forecast: the ' the '-occurrence
    * count capped at 10 as an 11-bin English-probability proxy
    * (p_k = k/10); outcome: lang = 'en'. All four statistics are exact
    * integer fixed point over the ≤ 11-row (bin, n_k, c_k) grid:
    *   brier·10⁶  = Σ_k [c_k(k−10)² + (n_k−c_k)k²] · 10⁶ div (100N)
    *   rel·10⁶    = Σ_k (k·n_k − 10·c_k)² div n_k   · 10⁶ div (100N)
    *   res·10⁶    = Σ_k (N·c_k − C·n_k)² div n_k    · 10⁶ div N³
    *   unc·10⁶    = C·(N−C)·10⁶ div N²
    * (per-bin floors — the q332 convention; in real arithmetic
    * brier = rel − res + unc, so the ppm readouts agree to the floor
    * noise, and the fuzz recount checks each term independently).
    * Integer range: res's N³·10⁶ clears DECIMAL(38,0)/HUGEINT to
    * N ≈ 10¹⁰ rows — beyond that drop the resolution column or rescale.
    * One corpus scan to the 11-bin grid; grid algebra after; N = 0
    * impossible (the scan requires rows), empty bins simply absent. */
  val q407_brier_decomposition: Q = (s, d) => {
    val bin = expr("least((length(text) - length(replace(text, ' the ', ''))) div 5, 10)")
    val grid = Tables.documents(s, d)
      .select(bin.as("k"), (col("lang") === "en").cast("long").as("o"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_k"), sum(col("o")).as("c_k"))
      .localCheckpoint(true) // ≤11 rows; consumers: tot + res (twice)
    val tot = grid.agg(
      sum(col("n_k")).as("n"), sum(col("c_k")).as("c"),
      sum(expr(s"cast(c_k as $dec) * (k - 10) * (k - 10)" +
        s" + cast(n_k - c_k as $dec) * k * k")).as("bnum"),
      sum(expr(s"cast(k * n_k - 10 * c_k as $dec)" +
        s" * (k * n_k - 10 * c_k) div n_k")).as("relnum"))
    val res = grid
      .crossJoin(broadcast(grid.agg(sum(col("n_k")).as("__n"),
        sum(col("c_k")).as("__c"))))
      .agg(sum(expr(s"""(cast(__n as $dec) * c_k - cast(__c as $dec) * n_k)
          * (cast(__n as $dec) * c_k - cast(__c as $dec) * n_k)
          div n_k""")).as("resnum"))
    tot.crossJoin(broadcast(res))
      .select(col("n"),
        expr(s"cast(cast(c as $dec) * 1000000 div n as bigint)").as("o_bar_ppm"),
        expr(s"cast(cast(bnum as $dec) * 1000000 div (100 * cast(n as $dec)) as bigint)")
          .as("brier_ppm"),
        expr(s"cast(cast(relnum as $dec) * 1000000 div (100 * cast(n as $dec)) as bigint)")
          .as("rel_ppm"),
        expr(s"cast(cast(resnum as $dec) * 1000000 div (cast(n as $dec) * n * n) as bigint)")
          .as("res_ppm"),
        expr(s"cast(cast(c as $dec) * (n - c) * 1000000 div (cast(n as $dec) * n) as bigint)")
          .as("unc_ppm"))
  }
  val q407_sql: String =
    """WITH doc AS (SELECT
      |    least((length(text) - length(replace(text, ' the ', ''))) // 5, 10)
      |      ::BIGINT AS k,
      |    (lang = 'en')::BIGINT AS o
      |  FROM documents),
      |grid AS (SELECT k, count(*)::BIGINT AS n_k, sum(o)::BIGINT AS c_k
      |  FROM doc GROUP BY 1),
      |tot AS (SELECT sum(n_k)::HUGEINT AS n, sum(c_k)::HUGEINT AS c,
      |    sum(c_k::HUGEINT * (k - 10) * (k - 10)
      |        + (n_k - c_k)::HUGEINT * k * k) AS bnum,
      |    sum((k * n_k - 10 * c_k)::HUGEINT * (k * n_k - 10 * c_k) // n_k)
      |      AS relnum
      |  FROM grid),
      |res AS (SELECT sum((t.n * c_k - t.c * n_k) * (t.n * c_k - t.c * n_k)
      |          // n_k) AS resnum
      |  FROM grid, tot t)
      |SELECT n::BIGINT AS n,
      |  (c * 1000000 // n)::BIGINT AS o_bar_ppm,
      |  (bnum * 1000000 // (100 * n))::BIGINT AS brier_ppm,
      |  (relnum * 1000000 // (100 * n))::BIGINT AS rel_ppm,
      |  (resnum * 1000000 // (n * n * n))::BIGINT AS res_ppm,
      |  (c * (n - c) * 1000000 // (n * n))::BIGINT AS unc_ppm
      |FROM tot, res""".stripMargin
}
