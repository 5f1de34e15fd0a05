package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Ilog2
import graft.io.Tables

/** Distribution-shape statistics the round-10 rank/agreement family left
  * open: a mergeable HDR-histogram quantile REGISTER (the percentile
  * sketch a 100 TB ingest keeps live), blocked and variance-homogeneity
  * tests (Friedman, Brown–Forsythe), the L2 and energy complements to
  * the KS/Wasserstein drift pair (Cramér–von Mises, Székely's energy
  * distance), and the Ljung–Box white-noise gate for the daily series
  * the forecasting family models.
  *
  * House arithmetic: logs via the libm-free [[graft.functions.Ilog2]]
  * fold, ranks doubled (×2) so average-rank ties stay integral, every
  * ratio cross-multiplied with the division floored ONCE at the readout
  * (or once per bounded term where a shared denominator would overflow
  * DECIMAL(38,0) — each such quantization is called out in place).
  * Spark `div` and DuckDB `//` agree on negative operands (both
  * truncate toward zero — verified by the q351 family), so the signed
  * autocorrelations replay exactly.
  *
  * Scale notes (100 TB): every query reduces the corpus in ONE
  * map-side-combinable grouped pass — to log-bucket registers (q356,
  * ≤ |types|·128 cells), calendar cells (q358/q362, ≤ 31·|types|),
  * (source, length) counts (q359, support-bounded), or (type, half,
  * decile) counts (q360/q361, ≤ |types|·2·100). All joins after the
  * reduction are broadcast; the only windows run inside those bounded
  * frames. Nothing funnels through a corpus-scale window, a cartesian
  * product, or a driver loop.
  */
object HypothesisQueries extends Registry {

  private val dec = "decimal(38,0)"

  // ---- q356: HDR-histogram quantile register -------------------------------

  /** Log₂-bucket registers over a positive BIGINT measure: bucket
    * b = ilog2(v) div 8192 (8 sub-buckets per octave → every bucket
    * spans a 2^(1/8) ≈ 1.09 ratio), register = (count, min, max). All
    * three components are monoids (sum / min / max), which is the whole
    * point: registers merge across partitions, files, days, and — in
    * the q357 recovery certification — across a mid-stream restart,
    * without ever revisiting raw data. */
  def hdrRegisters(ev: DataFrame): DataFrame =
    ev.withColumn("lfp", Ilog2.ilog2(col("v")))
      .withColumn("b", expr("lfp div 8192"))
      .groupBy(col("g"), col("b"))
      .agg(count(lit(1)).as("c"), min(col("v")).as("lo"),
        max(col("v")).as("hi"))

  /** Quantile readout from an HDR register frame (g, b, c, lo, hi): for
    * each percentile p ∈ {50, 90, 99}, the bucket where the cumulative
    * count first reaches the ceiling rank ⌈p·n/100⌉. The per-bucket
    * min/max registers turn the bucket into a CERTIFIED BRACKET — the
    * true p-quantile value lies in [lo, hi], and `width_ppm` reports the
    * realized bracket width (≤ the 2^(1/8)−1 ≈ 9.05e4 ppm design bound).
    * The cumulative window runs inside the ≤128-row bucket frame per
    * key, never the corpus. */
  def hdrQuantiles(s: SparkSession, reg: DataFrame): DataFrame = {
    import s.implicits._
    val cum = reg
      .withColumn("cum",
        sum(col("c")).over(Window.partitionBy(col("g")).orderBy(col("b"))))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("g"))))
    val pcts = Seq(50L, 90L, 99L).toDF("p")
    cum.crossJoin(broadcast(pcts))
      .where(col("cum") >= expr("(p * n + 99) div 100"))
      .groupBy(col("g"), col("p"))
      .agg(max(col("n")).as("n"),
        min(struct(col("b"), col("lo"), col("hi"))).as("f"))
      .select(col("g").as("event_type"), col("p"), col("n"),
        col("f.b").as("bucket"), col("f.lo").as("lo"), col("f.hi").as("hi"),
        expr("(f.hi - f.lo) * 1000000 div f.lo").as("width_ppm"))
      .orderBy(col("event_type"), col("p"))
  }

  /** Engine-side measure: event value in cents (≥ 1 — ilog2's domain;
    * the data floor is 1 cent, the guard mirrors the oracle). */
  private[queries] def hdrInput(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(col("event_type").as("g"),
        expr("cast(round(value * 100) as bigint)").as("v"))
      .where(col("v") >= 1)

  val q356_hdr_quantiles: Q = (s, d) =>
    hdrQuantiles(s, hdrRegisters(hdrInput(s, d)))
  val q356_sql: String = {
    val il = Ilog2.sqlReplay("v")
    s"""WITH ev AS (SELECT event_type AS g,
       |    CAST(round(value * 100) AS BIGINT) AS v FROM events
       |  WHERE CAST(round(value * 100) AS BIGINT) >= 1),
       |lg AS (SELECT g, v, $il AS lfp FROM ev),
       |reg AS (SELECT g, lfp // 8192 AS b, count(*)::BIGINT AS c,
       |          min(v)::BIGINT AS lo, max(v)::BIGINT AS hi
       |        FROM lg GROUP BY 1, 2),
       |cum AS (SELECT g, b, c, lo, hi,
       |          sum(c) OVER (PARTITION BY g ORDER BY b)::BIGINT AS cum,
       |          sum(c) OVER (PARTITION BY g)::BIGINT AS n
       |        FROM reg),
       |pct AS (SELECT p::BIGINT AS p FROM (VALUES (50), (90), (99)) t(p)),
       |sel AS (SELECT g, p, max(n)::BIGINT AS n, min(b)::BIGINT AS bucket,
       |          arg_min(lo, b)::BIGINT AS lo, arg_min(hi, b)::BIGINT AS hi
       |        FROM cum CROSS JOIN pct
       |        WHERE cum >= (p * n + 99) // 100
       |        GROUP BY 1, 2)
       |SELECT g AS event_type, p, n, bucket, lo, hi,
       |  (hi - lo) * 1000000 // lo AS width_ppm
       |FROM sel ORDER BY event_type, p""".stripMargin
  }

  // ---- q358: Friedman blocked rank test ------------------------------------

  /** Friedman's test (blocks = calendar days, treatments = event types,
    * response = the day×type revenue total in cents): do the treatments
    * differ once the block effect is ranked away — the blocked
    * complement to q332's unblocked Kruskal–Wallis. Ranks are
    * within-block average ranks DOUBLED to stay integral
    * (2·rank = #less + #≤ + 1, computed from the 31·k×k bounded
    * self-join, never a corpus window); the tie-corrected statistic
    * Q = (k−1)·Σⱼ(R2ⱼ − n(k+1))² / (ΣA4 − nk(k+1)²) is exact in the
    * ×2 rank scale (both numerator and denominator carry the same 4×)
    * and floors ONCE to ppm. Only complete blocks (all k treatments
    * present) enter, per the test's definition; an all-tied corpus
    * makes the denominator 0 and fails closed to NULL. */
  /** Core over the raw (day, g, c) observation frame — the scale-stress
    * harness feeds duplicated replicas through this entry point. */
  def friedman(ev: DataFrame): DataFrame = {
    val cells = ev
      .groupBy(col("day"), col("g"))
      .agg(sum(col("c")).as("v"))
      .localCheckpoint(true) // consumers: k probe, completeness, self-join
    val k = cells.agg(countDistinct(col("g")).as("k"))
    val complete = cells
      .join(broadcast(cells.groupBy(col("day"))
        .agg(count(lit(1)).as("kd"))), Seq("day"))
      .crossJoin(broadcast(k))
      .where(col("kd") === col("k"))
      .select(col("day"), col("g"), col("v"), col("k"))
      .localCheckpoint(true) // consumers: rank self-join + n probe
    val other = complete.select(col("day"), col("v").as("v2"))
    val r2 = complete.join(broadcast(other), Seq("day"))
      .groupBy(col("day"), col("g"))
      .agg(max(col("k")).as("k"),
        (sum(when(col("v2") < col("v"), 1L).otherwise(0L)) +
          sum(when(col("v2") <= col("v"), 1L).otherwise(0L)) + 1L).as("r2"))
    val n = complete.agg(countDistinct(col("day")).as("n"))
    val perType = r2.groupBy(col("g"))
      .agg(max(col("k")).as("k"), sum(col("r2")).as("r2_sum"),
        sum(expr(s"cast(r2 as $dec) * r2")).as("a4_part"))
      .crossJoin(broadcast(n))
    val stats = perType.agg(max(col("n")).as("n"), max(col("k")).as("k"),
        sum(expr(s"""cast(r2_sum - n * (k + 1) as $dec)
          * (r2_sum - n * (k + 1))""")).as("s4"),
        sum(col("a4_part")).as("a4"))
      .select(col("n"), col("k"), col("s4"),
        (col("a4") - expr(s"cast(n as $dec) * k * (k + 1) * (k + 1)"))
          .as("d4"))
      .select(col("n").as("n_blocks"), col("k"),
        expr(s"""cast((k - 1) * s4 * 1000000 div nullif(d4, 0)
          as bigint)""").as("q_ppm"))
    perType.select(col("g").as("event_type"), col("r2_sum"))
      .crossJoin(broadcast(stats))
      .select(col("event_type"), col("r2_sum"), col("n_blocks"), col("k"),
        col("q_ppm"))
      .orderBy(col("event_type"))
  }
  val q358_friedman: Q = (s, d) => friedman(Tables.events(s, d).select(
    expr("unix_millis(ts) div 86400000").as("day"),
    col("event_type").as("g"),
    expr("cast(round(value * 100) as bigint)").as("c")))
  val q358_sql: String =
    """WITH cells AS (SELECT epoch_ms(ts) // 86400000 AS day,
      |    event_type AS g,
      |    sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS v
      |  FROM events GROUP BY 1, 2),
      |kk AS (SELECT count(DISTINCT g)::BIGINT AS k FROM cells),
      |complete AS (SELECT day, g, v, k FROM cells
      |  JOIN (SELECT day AS d2, count(*)::BIGINT AS kd FROM cells
      |        GROUP BY 1) dc ON dc.d2 = cells.day
      |  CROSS JOIN kk WHERE kd = k),
      |r2 AS (SELECT a.day, a.g, max(a.k)::BIGINT AS k,
      |         (sum(CASE WHEN b.v2 < a.v THEN 1 ELSE 0 END)
      |          + sum(CASE WHEN b.v2 <= a.v THEN 1 ELSE 0 END) + 1)::BIGINT
      |           AS r2
      |       FROM complete a
      |       JOIN (SELECT day, v AS v2 FROM complete) b ON b.day = a.day
      |       GROUP BY 1, 2),
      |nn AS (SELECT count(DISTINCT day)::BIGINT AS n FROM complete),
      |pt AS (SELECT g, max(k)::BIGINT AS k, sum(r2)::BIGINT AS r2_sum,
      |         sum(r2::HUGEINT * r2)::HUGEINT AS a4_part, max(n)::BIGINT AS n
      |       FROM r2 CROSS JOIN nn GROUP BY 1),
      |st AS (SELECT max(n)::BIGINT AS n_blocks, max(k)::BIGINT AS k,
      |         sum((r2_sum - n * (k + 1))::HUGEINT
      |           * (r2_sum - n * (k + 1)))::HUGEINT AS s4,
      |         (sum(a4_part)
      |          - max(n)::HUGEINT * max(k) * (max(k) + 1) * (max(k) + 1))
      |           AS d4
      |       FROM pt)
      |SELECT g AS event_type, r2_sum, n_blocks, st.k,
      |  ((st.k - 1) * s4 * 1000000 // nullif(d4, 0))::BIGINT AS q_ppm
      |FROM pt CROSS JOIN st ORDER BY event_type""".stripMargin

  // ---- q359: Brown–Forsythe variance homogeneity ---------------------------

  /** Brown–Forsythe (Levene-with-medians) test: are document-length
    * spreads homogeneous across sources? One corpus pass reduces to the
    * (source, length) counts frame — the SUFFICIENT STATISTIC: the
    * lower-median per source (smallest v with cum ≥ ⌈(n+1)/2⌉, cum over
    * the support-bounded frame), the absolute deviations z = |v − med|,
    * and their moments all derive from counts without a second corpus
    * pass. F = [(N−k)·SSB] / [(k−1)·SSW]; each group's SSB/SSW term has
    * its own denominator (n_g·N² resp. n_g), so terms quantize ONCE to
    * micro-units before summing (the CUPED freeze-θ precedent), then the
    * F ratio floors to ppm. Both micro terms use the q366
    * quotient–remainder decomposition (x·10⁶ div n = (x div n)·10⁶ +
    * ((x mod n)·10⁶ div n)) because Spark's decimal-dividend `div`
    * WRAPS its long result silently past 2⁶³ — the raw form's ssb
    * quotient grows as ~n_g·Var(z)·10⁶ and wraps around 10⁵ docs/group
    * at full length spread (the q366 stress-catch failure mode).
    * Decomposed, the long-riding quotients are ≤ n_g·vmax², so the
    * binding horizon is DECIMAL(38,0) width on d² itself: exact to
    * ~10⁸ docs at lengths ≤ 10⁴; past that, bucket z in deca-chars. A single
    * source (k=1) or zero within-group spread fails closed to NULL F. */
  /** Core over the raw (source, v) observation frame — the scale-stress
    * harness feeds duplicated replicas through this entry point. */
  def brownForsythe(docs: DataFrame): DataFrame = {
    val cnt = docs
      .groupBy(col("source"), col("v"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // consumers: median scan + deviation moments
    val med = cnt
      .withColumn("cum", sum(col("c"))
        .over(Window.partitionBy(col("source")).orderBy(col("v"))))
      .withColumn("n_g", sum(col("c")).over(Window.partitionBy(col("source"))))
      .where(col("cum") >= expr("(n_g + 1) div 2"))
      .groupBy(col("source"))
      .agg(min(col("v")).as("med"), max(col("n_g")).as("n_g"))
    val zmom = cnt.join(broadcast(med), Seq("source"))
      .withColumn("z", abs(col("v") - col("med")))
      .groupBy(col("source"))
      .agg(max(col("med")).as("med"), max(col("n_g")).as("n_g"),
        sum(expr(s"cast(c as $dec) * z")).as("z_g"),
        sum(expr(s"cast(c as $dec) * z * z")).as("zz_g"))
    val grand = zmom.agg(sum(col("n_g")).as("n_tot"),
      sum(col("z_g")).as("z_tot"), count(lit(1)).as("k"))
    // Quotient–remainder on BOTH micro terms (q366 precedent): the raw
    // `x * 1000000 div den` form rides Spark's decimal-dividend `div`,
    // whose long result wraps silently past 2^63 (~10^5 docs/group for
    // ssb at full length spread). Decomposed, only x div den (bounded by
    // n_g * vmax^2) rides a long; the recomposed value is IDENTICAL:
    // x*10^6 div den = (x div den)*10^6 + ((x mod den)*10^6 div den),
    // with x, den >= 0 throughout so floor == truncate on both engines.
    val terms = zmom.crossJoin(broadcast(grand))
      .withColumn("d2b", expr(s"""cast(z_g * n_tot - z_tot * n_g as $dec)
          * (z_g * n_tot - z_tot * n_g)"""))
      .withColumn("denb", expr(s"cast(n_g as $dec) * n_tot * n_tot"))
      .withColumn("qb", expr("d2b div denb"))
      .withColumn("ssb_micro", expr(s"""cast(qb as $dec) * 1000000
          + (d2b - cast(qb as $dec) * denb) * 1000000 div denb"""))
      .withColumn("d2w", expr(s"cast(n_g * zz_g - z_g * z_g as $dec)"))
      .withColumn("qw", expr("d2w div n_g"))
      .withColumn("ssw_micro", expr(s"""cast(qw as $dec) * 1000000
          + (d2w - cast(qw as $dec) * n_g) * 1000000 div n_g"""))
      .localCheckpoint(true) // consumers: F fold + per-source readout
    val f = terms.agg(max(col("n_tot")).as("n_tot"), max(col("k")).as("k"),
        sum(col("ssb_micro").cast(dec)).as("ssb"), // long terms, wide sums:
        sum(col("ssw_micro").cast(dec)).as("ssw")) // the oracle sums HUGEINT
      .select(col("n_tot"), col("k"),
        expr(s"""cast(cast(n_tot - k as $dec) * ssb * 1000000
          div nullif(cast(k - 1 as $dec) * ssw, 0) as bigint)""").as("f_ppm"))
    terms.select(col("source"), col("n_g"), col("med"),
        expr("cast(z_g * 1000000 div n_g as bigint)").as("z_mean_ppm"))
      .crossJoin(broadcast(f))
      .orderBy(col("source"))
  }
  val q359_brown_forsythe: Q = (s, d) => brownForsythe(Tables.documents(s, d)
    .select(col("source"), col("n_chars").cast("long").as("v")))
  val q359_sql: String =
    """WITH cnt AS (SELECT source, n_chars::BIGINT AS v, count(*)::BIGINT AS c
      |  FROM documents GROUP BY 1, 2),
      |cum AS (SELECT source, v, c,
      |          sum(c) OVER (PARTITION BY source ORDER BY v)::BIGINT AS cum,
      |          sum(c) OVER (PARTITION BY source)::BIGINT AS n_g
      |        FROM cnt),
      |med AS (SELECT source, min(v)::BIGINT AS med, max(n_g)::BIGINT AS n_g
      |        FROM cum WHERE cum >= (n_g + 1) // 2 GROUP BY 1),
      |zm AS (SELECT cnt.source, max(med)::BIGINT AS med,
      |         max(n_g)::BIGINT AS n_g,
      |         sum(c::HUGEINT * abs(v - med))::HUGEINT AS z_g,
      |         sum(c::HUGEINT * abs(v - med) * abs(v - med))::HUGEINT AS zz_g
      |       FROM cnt JOIN med ON med.source = cnt.source GROUP BY 1),
      |grand AS (SELECT sum(n_g)::HUGEINT AS n_tot, sum(z_g)::HUGEINT AS z_tot,
      |            count(*)::BIGINT AS k FROM zm),
      |terms AS (SELECT source, n_g, med, z_g, n_tot, k,
      |            (z_g * n_tot - z_tot * n_g) * (z_g * n_tot - z_tot * n_g)
      |              * 1000000 // (n_g::HUGEINT * n_tot * n_tot) AS ssb_micro,
      |            (n_g * zz_g - z_g * z_g) * 1000000 // n_g::HUGEINT
      |              AS ssw_micro
      |          FROM zm CROSS JOIN grand),
      |f AS (SELECT max(n_tot)::HUGEINT AS n_tot, max(k)::BIGINT AS k,
      |        ((max(n_tot) - max(k)) * sum(ssb_micro) * 1000000
      |         // nullif((max(k) - 1) * sum(ssw_micro), 0))::BIGINT AS f_ppm
      |      FROM terms)
      |SELECT source, n_g, med,
      |  (z_g * 1000000 // n_g)::BIGINT AS z_mean_ppm,
      |  f.n_tot::BIGINT AS n_tot, f.k, f.f_ppm
      |FROM terms CROSS JOIN f ORDER BY source""".stripMargin

  // ---- q360: two-sample Cramér–von Mises -----------------------------------

  /** Raw two-sample relation: per event type, the sensitive value and
    * the calendar half of every event. */
  private[queries] def halfRel(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(col("event_type").as("g"),
        when(dayofmonth(col("ts")) <= 15, lit("a")).otherwise(lit("b"))
          .as("half"),
        expr("try_cast(get_json_object(props, '$.k') as long)").as("v"))
      .where(col("v").isNotNull)

  /** Shared reduction for the two-sample distribution tests: the raw
    * (g, half, v) relation to the bounded cells frame (g, v, c_a, c_b)
    * — support ≤ 100 values. */
  private[queries] def halfCounts(rel: DataFrame): DataFrame =
    rel.groupBy(col("g"), col("v"))
      .agg(sum(when(col("half") === "a", 1L).otherwise(0L)).as("c_a"),
        sum(when(col("half") === "b", 1L).otherwise(0L)).as("c_b"))

  private val halfCountsSql: String =
    """cells AS (SELECT event_type AS g,
      |    TRY_CAST(json_extract(props, '$.k') AS BIGINT) AS v,
      |    sum(CASE WHEN date_part('day', ts) <= 15 THEN 1 ELSE 0 END)::BIGINT
      |      AS c_a,
      |    sum(CASE WHEN date_part('day', ts) > 15 THEN 1 ELSE 0 END)::BIGINT
      |      AS c_b
      |  FROM events
      |  WHERE TRY_CAST(json_extract(props, '$.k') AS BIGINT) IS NOT NULL
      |  GROUP BY 1, 2)""".stripMargin

  /** Two-sample Cramér–von Mises between the calendar halves per event
    * type — the L2-of-CDF-difference drift test completing the triad
    * with q298 (KS: sup) and q336 (Wasserstein: L1). Anderson's
    * representation: T = nm/(n+m)² · Σ over pooled points of
    * (F_n − G_m)², computed from per-value counts and cumulative sums
    * inside the ≤100-row support frame, cross-multiplied to ONE
    * division: T·10⁶ = 10⁶·Σᵥ (c_a+c_b)(cumA·m − cumB·n)² div
    * (nm(n+m)²). Exact in DECIMAL(38,0) to ~10⁸ events per half; past
    * that, quantize per-value CDF gaps to ppm first. An empty half
    * fails closed to NULL. */
  /** Core over the raw (g, half, v) relation — the scale-stress harness
    * feeds duplicated replicas through this entry point. */
  def cramerVonMises(rel: DataFrame): DataFrame =
    cramerVonMisesCells(halfCounts(rel))

  /** Cells-level entry (g, v, c_a, c_b): lets q368 reduce the corpus
    * ONCE and share the checkpointed bounded frame across members. */
  private[queries] def cramerVonMisesCells(cells: DataFrame): DataFrame = {
    val cum = cells
      .withColumn("cum_a", sum(col("c_a"))
        .over(Window.partitionBy(col("g")).orderBy(col("v"))))
      .withColumn("cum_b", sum(col("c_b"))
        .over(Window.partitionBy(col("g")).orderBy(col("v"))))
      .withColumn("n_a", sum(col("c_a")).over(Window.partitionBy(col("g"))))
      .withColumn("n_b", sum(col("c_b")).over(Window.partitionBy(col("g"))))
    cum.groupBy(col("g"))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        sum(expr(s"""cast(c_a + c_b as $dec)
          * (cum_a * n_b - cum_b * n_a) * (cum_a * n_b - cum_b * n_a)"""))
          .as("num"))
      .select(col("g").as("event_type"), col("n_a"), col("n_b"),
        expr(s"""cast(num * 1000000 div nullif(
            cast(n_a as $dec) * n_b * (n_a + n_b) * (n_a + n_b), 0)
          as bigint)""").as("t_ppm"))
      .orderBy(col("event_type"))
  }
  val q360_cramer_von_mises: Q = (s, d) => cramerVonMises(halfRel(s, d))
  val q360_sql: String =
    s"""WITH $halfCountsSql,
       |cum AS (SELECT g, v, c_a, c_b,
       |          sum(c_a) OVER (PARTITION BY g ORDER BY v)::BIGINT AS cum_a,
       |          sum(c_b) OVER (PARTITION BY g ORDER BY v)::BIGINT AS cum_b,
       |          sum(c_a) OVER (PARTITION BY g)::BIGINT AS n_a,
       |          sum(c_b) OVER (PARTITION BY g)::BIGINT AS n_b
       |        FROM cells)
       |SELECT g AS event_type, max(n_a)::BIGINT AS n_a,
       |  max(n_b)::BIGINT AS n_b,
       |  (sum((c_a + c_b)::HUGEINT
       |       * (cum_a * n_b - cum_b * n_a) * (cum_a * n_b - cum_b * n_a))
       |   * 1000000
       |   // nullif(max(n_a)::HUGEINT * max(n_b)
       |            * (max(n_a) + max(n_b)) * (max(n_a) + max(n_b)), 0))::BIGINT
       |    AS t_ppm
       |FROM cum GROUP BY 1 ORDER BY event_type""".stripMargin

  // ---- q361: two-sample energy distance ------------------------------------

  /** Székely's energy distance between the calendar halves per event
    * type: E = 2·E|X−Y| − E|X−X'| − E|Y−Y'| in V-statistic form, every
    * expectation a Σ|v₁−v₂|·c₁·c₂ over the ≤100×100 support grid (the
    * metric that is zero iff the distributions are equal — the moment-
    * free complement to q360's CDF form). Common denominator n²m²,
    * ONE division to ppm; the e-test statistic T = nm/(n+m)·E floors
    * independently to milli-units. Broadcast grid joins only; an empty
    * half fails closed to NULL. */
  /** Core over the raw (g, half, v) relation — the scale-stress harness
    * feeds duplicated replicas through this entry point. */
  def energyDistance(rel: DataFrame): DataFrame = {
    val cells = halfCounts(rel).localCheckpoint(true) // consumers: 3 grids
    val tot = cells.groupBy(col("g"))
      .agg(sum(col("c_a")).as("n_a"), sum(col("c_b")).as("n_b"))
    val left = cells.select(col("g"), col("v"), col("c_a"), col("c_b"))
    val right = cells.select(col("g"), col("v").as("v2"),
      col("c_a").as("c_a2"), col("c_b").as("c_b2"))
    val grids = left.join(broadcast(right), Seq("g"))
      .groupBy(col("g"))
      .agg(
        sum(expr(s"cast(abs(v - v2) as $dec) * c_a * c_b2")).as("axy"),
        sum(expr(s"cast(abs(v - v2) as $dec) * c_a * c_a2")).as("bxx"),
        sum(expr(s"cast(abs(v - v2) as $dec) * c_b * c_b2")).as("cyy"))
    grids.join(broadcast(tot), Seq("g"))
      .select(col("g").as("event_type"), col("n_a"), col("n_b"),
        expr(s"""cast((2 * axy * n_a * n_b - bxx * n_b * n_b
            - cyy * n_a * n_a) * 1000000
          div nullif(cast(n_a as $dec) * n_a * n_b * n_b, 0)
          as bigint)""").as("e_ppm"),
        expr(s"""cast((2 * axy * n_a * n_b - bxx * n_b * n_b
            - cyy * n_a * n_a) * 1000
          div nullif(cast(n_a as $dec) * n_b * (n_a + n_b), 0)
          as bigint)""").as("t_milli"))
      .orderBy(col("event_type"))
  }
  val q361_energy_distance: Q = (s, d) => energyDistance(halfRel(s, d))
  val q361_sql: String =
    s"""WITH $halfCountsSql,
       |tot AS (SELECT g, sum(c_a)::BIGINT AS n_a, sum(c_b)::BIGINT AS n_b
       |        FROM cells GROUP BY 1),
       |grids AS (SELECT a.g,
       |            sum(abs(a.v - b.v)::HUGEINT * a.c_a * b.c_b)::HUGEINT
       |              AS axy,
       |            sum(abs(a.v - b.v)::HUGEINT * a.c_a * b.c_a)::HUGEINT
       |              AS bxx,
       |            sum(abs(a.v - b.v)::HUGEINT * a.c_b * b.c_b)::HUGEINT
       |              AS cyy
       |          FROM cells a JOIN cells b ON b.g = a.g GROUP BY 1)
       |SELECT grids.g AS event_type, n_a, n_b,
       |  ((2 * axy * n_a * n_b - bxx * n_b::HUGEINT * n_b
       |    - cyy * n_a::HUGEINT * n_a) * 1000000
       |   // nullif(n_a::HUGEINT * n_a * n_b * n_b, 0))::BIGINT AS e_ppm,
       |  ((2 * axy * n_a * n_b - bxx * n_b::HUGEINT * n_b
       |    - cyy * n_a::HUGEINT * n_a) * 1000
       |   // nullif(n_a::HUGEINT * n_b * (n_a + n_b), 0))::BIGINT AS t_milli
       |FROM grids JOIN tot ON tot.g = grids.g ORDER BY event_type""".stripMargin

  // ---- q362: Ljung–Box white-noise gate ------------------------------------

  /** Ljung–Box portmanteau test on each event type's daily revenue
    * series (the residual-whiteness gate run after a q279-style fit):
    * autocorrelations r_k at lags 1..7 from the mean-centered series —
    * centering by cross-multiplication (y_d = n·x_d − Σx keeps every
    * term integral), r_k quantized ONCE to ppm (CUPED freeze-θ
    * precedent: (Σy·y₊ₖ)² would overflow any fixed width, r_k² in ppm²
    * cannot), then Q = n(n+2)·Σ r_k²/(n−k) floors to micro-units and
    * gates at χ²₇;0.95 = 14.067140. The lag pairs come from a broadcast
    * self-join of the ≤31·|types| daily frame on (g, day+k) — missing
    * days simply contribute no pair. DECIMAL(38,0)-exact at 100 TB
    * natively: Σy² at 10¹² cents/day is ~10²⁸, ×10⁶ still in range.
    * A constant series (Σy² = 0) fails closed to NULL. */
  /** Shared autocorrelation frame over the raw (g, day, c) observation
    * rows: the mean-centered (y = n·x − Σx, integral) daily series'
    * r_k in ppm for lags 1..7 — the sufficient statistic both the
    * Ljung–Box gate (q362) and the Durbin–Levinson PACF ladder (q370)
    * consume. One corpus pass to the ≤31·|types| daily frame; lag
    * pairs from a broadcast self-join inside it. */
  private[queries] def acfFrame(ev: DataFrame): DataFrame =
    acfFromDaily(ev
      .groupBy(col("g"), col("day"))
      .agg(sum(col("c")).as("x"))
      .localCheckpoint(true)) // consumers: moment probe + both join sides

  /** Daily-sums entry (g, day, x): caller owns the checkpoint of the
    * ≤31·|types| frame (q368 shares one across ljung-box + runs). */
  private[queries] def acfFromDaily(daily: DataFrame): DataFrame = {
    val mom = daily.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    val y = daily.join(broadcast(mom), Seq("g"))
      .withColumn("y", expr(s"cast(n as $dec) * x - sx"))
      .select(col("g"), col("day"), col("n"), col("y"))
      .localCheckpoint(true) // consumers: denominator + both lag sides
    val den = y.groupBy(col("g")).agg(sum(expr("y * y")).as("den"))
    val lags = y.withColumn("k", explode(array((1 to 7).map(lit(_)): _*)))
      .withColumn("k", col("k").cast("long"))
      .where(col("k") < col("n"))
      .withColumn("day2", col("day") + col("k"))
    // LEFT join: a lag whose every day lacks a partner (gapped series)
    // has r_k = 0, not a missing row — a dropped lag would compress the
    // PACF ladder's positional vector and mislabel every later lag
    // (fuzz-caught on gapped generators)
    val num = lags.join(broadcast(y.select(col("g"), col("day").as("day2"),
        col("y").as("y2"))), Seq("g", "day2"), "left")
      .groupBy(col("g"), col("k"))
      .agg(max(col("n")).as("n"),
        sum(expr(s"y * coalesce(y2, cast(0 as $dec))")).as("num"))
    num.join(broadcast(den), Seq("g"))
      .withColumn("r_ppm",
        expr("cast(num * 1000000 div nullif(den, 0) as bigint)"))
  }

  /** Core over the raw (g, day, c) observation frame — the scale-stress
    * harness feeds duplicated replicas through this entry point. */
  def ljungBox(ev: DataFrame): DataFrame = ljungBoxFromAcf(acfFrame(ev))

  private[queries] def ljungBoxFromAcf(r: DataFrame): DataFrame = {
    val q = r.groupBy(col("g"))
      .agg(max(col("n")).as("n"),
        sum(expr(s"cast(r_ppm as $dec) * r_ppm div (n - k)")).as("qsum"))
      .select(col("g"),
        expr("cast(n * (n + 2) * qsum div 1000000 as bigint)").as("q_micro"))
    r.select(col("g").as("event_type"), col("k").as("lag"), col("n").as("n_days"),
        col("r_ppm"))
      .join(broadcast(q.withColumnRenamed("g", "event_type")),
        Seq("event_type"))
      .withColumn("white_noise", col("q_micro") <= 14067140L)
      .orderBy(col("event_type"), col("lag"))
  }
  val q362_ljung_box: Q = (s, d) => ljungBox(Tables.events(s, d).select(
    col("event_type").as("g"),
    expr("unix_millis(ts) div 86400000").as("day"),
    expr("cast(round(value * 100) as bigint)").as("c")))
  /** The shared ACF CTE chain (daily → centered → lagged → r_ppm),
    * spliced into both the q362 and q370 oracles. */
  private val acfSql: String =
    """daily AS (SELECT event_type AS g, epoch_ms(ts) // 86400000 AS day,
      |    sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS x
      |  FROM events GROUP BY 1, 2),
      |mom AS (SELECT g, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx
      |        FROM daily GROUP BY 1),
      |y AS (SELECT daily.g, day, n, n::HUGEINT * x - sx AS y
      |      FROM daily JOIN mom ON mom.g = daily.g),
      |den AS (SELECT g, sum(y * y)::HUGEINT AS den FROM y GROUP BY 1),
      |lags AS (SELECT g, day, n, y, k::BIGINT AS k, day + k AS day2
      |         FROM y CROSS JOIN (SELECT unnest(range(1, 8)) AS k) ks
      |         WHERE k < n),
      |num AS (SELECT lags.g, k, max(lags.n)::BIGINT AS n,
      |          sum(lags.y * coalesce(y2.y, 0))::HUGEINT AS num
      |        FROM lags LEFT JOIN y y2
      |          ON y2.g = lags.g AND y2.day = lags.day2
      |        GROUP BY 1, 2),
      |r AS (SELECT num.g, k, n,
      |        (num * 1000000 // nullif(den, 0))::BIGINT AS r_ppm
      |      FROM num JOIN den ON den.g = num.g)""".stripMargin

  val q362_sql: String =
    s"""WITH $acfSql,
      |q AS (SELECT g,
      |        (max(n) * (max(n) + 2)
      |         * sum(r_ppm::HUGEINT * r_ppm // (n - k)) // 1000000)::BIGINT
      |          AS q_micro
      |      FROM r GROUP BY 1)
      |SELECT r.g AS event_type, k AS lag, n AS n_days, r_ppm, q_micro,
      |  q_micro <= 14067140 AS white_noise
      |FROM r JOIN q ON q.g = r.g ORDER BY event_type, lag""".stripMargin

  // ---- q370: PACF via the Durbin–Levinson ladder -----------------------------

  /** Partial autocorrelations at lags 1..7 — the other half of the
    * Box–Jenkins identification pair (q362's ACF says WHICH lags carry
    * signal; the PACF says which carry signal NOT explained by shorter
    * lags, i.e. the AR order). The Durbin–Levinson ladder runs in ppm
    * fixed point with every division floored once per step (freeze-θ
    * per rung): φ₁₁ = r₁; φ_kk = (r_k·10⁶ − Σφ_j·r_{k−j})·10⁶ div
    * (10¹² − Σφ_j·r_j); φ_j ← φ_j − φ_kk·φ_{k−j} div 10⁶. The ladder is
    * inherently sequential in k but its whole input is the |types|×7
    * ACF frame, so it runs driver-side under the Bounded.collect
    * license (1 024-row budget) — the 100 TB work is all in
    * [[acfFrame]]'s one corpus pass. The ORACLE replays the identical
    * ladder as a DuckDB recursive CTE folding the φ vector as a list —
    * cross-engine bit-equality of a sequential fixed-point recursion.
    * A zero denominator (degenerate series) fails closed: the ladder
    * stops and later lags are absent, matching the oracle's recursion
    * guard. */
  /** Core over the raw (g, day, c) observation frame — the scale-stress
    * harness feeds duplicated replicas through this entry point. */
  def pacf(s: SparkSession, ev: DataFrame): DataFrame = {
    val acf = acfFrame(ev)
    // a constant series nulls EVERY lag's r_ppm (den = 0): drop such
    // types symmetrically with the oracle's rl filter — getAs[Long] on a
    // NULL would silently read 0 and ladder a fake PACF (fuzz-caught)
    val rows = graft.io.Bounded.collect(
      acf.where(col("r_ppm").isNotNull)
        .select(col("g"), col("k"), col("r_ppm")).orderBy(col("g"), col("k")),
      1024, "ACF frame is |event types| x 7 lags")
    val byG = rows.groupBy(_.getAs[String]("g"))
    def tdiv(a: BigInt, b: BigInt): BigInt = a / b // BigInt / truncates to zero
    val out = byG.toSeq.flatMap { case (g, rs0) =>
      val rs = rs0.sortBy(_.getAs[Long]("k")).map(_.getAs[Long]("r_ppm"))
      var phi = Vector(BigInt(rs(0)))
      val lads = scala.collection.mutable.ArrayBuffer((g, 1L, rs(0), rs(0)))
      var k = 2
      var alive = true
      while (alive && k <= rs.length) {
        val num = BigInt(rs(k - 1)) * 1000000 -
          (1 until k).map(j => phi(j - 1) * rs(k - 1 - j)).sum
        val den = BigInt("1000000000000") -
          (1 until k).map(j => phi(j - 1) * rs(j - 1)).sum
        if (den == 0) alive = false
        else {
          val pkk = tdiv(num * 1000000, den)
          phi = (1 until k).map(j =>
            phi(j - 1) - tdiv(pkk * phi(k - 1 - j), 1000000)).toVector :+ pkk
          lads += ((g, k.toLong, rs(k - 1), pkk.toLong))
          k += 1
        }
      }
      lads
    }
    import s.implicits._
    out.toDF("event_type", "lag", "r_ppm", "pacf_ppm")
      .orderBy(col("event_type"), col("lag"))
  }
  val q370_pacf: Q = (s, d) => pacf(s, Tables.events(s, d).select(
    col("event_type").as("g"),
    expr("unix_millis(ts) div 86400000").as("day"),
    expr("cast(round(value * 100) as bigint)").as("c")))
  val q370_sql: String =
    s"""WITH RECURSIVE $acfSql,
       |rl AS (SELECT g, list(r_ppm ORDER BY k) AS rs FROM r
       |       WHERE r_ppm IS NOT NULL GROUP BY 1),
       |dl AS (
       |  SELECT g, 1::BIGINT AS k, [rs[1]] AS phi FROM rl
       |  UNION ALL
       |  SELECT g, k + 1,
       |    list_append(
       |      list_transform(range(1, k + 1),
       |        j -> phi[j] - (pkk * phi[k + 1 - j]) // 1000000),
       |      pkk)
       |  FROM (
       |    SELECT dl.g, dl.k, dl.phi,
       |      (((rs[(dl.k + 1)::INT] * 1000000
       |         - coalesce(list_sum(list_transform(range(1, dl.k + 1),
       |             j -> phi[j::INT] * rs[(dl.k + 1 - j)::INT])), 0))::HUGEINT
       |        * 1000000)
       |       // nullif(1000000000000 - coalesce(list_sum(
       |            list_transform(range(1, dl.k + 1),
       |              j -> phi[j::INT] * rs[j::INT])), 0), 0))::BIGINT AS pkk
       |    FROM dl JOIN rl USING (g) WHERE dl.k < 7 AND len(rs) > dl.k
       |  ) WHERE pkk IS NOT NULL
       |)
       |SELECT dl.g AS event_type, dl.k AS lag, rs[dl.k::INT] AS r_ppm,
       |  phi[dl.k::INT] AS pacf_ppm
       |FROM dl JOIN rl USING (g) ORDER BY event_type, lag""".stripMargin

  // ---- q371: day-of-week seasonality strength --------------------------------

  /** Weekly-seasonality strength of each type's daily revenue series:
    * η² = SSB/SST over the day-of-week groups (dow = epoch-day mod 7, a
    * stable weekly phase) — the variance share a seasonal model would
    * explain, the diagnostic run before reaching for q279's
    * Holt–Winters. Overflow design (the q366 wrap lesson, applied at
    * authoring time): the cross-multiplied n²-scale SSB would push a
    * corpus-growing value through IntegralDivide, so the MEANS are
    * quantized once to micro-cents instead (m_d = S_d·10⁶ div n_d, the
    * freeze-θ precedent; long-safe to ~$9·10¹⁰/day/type, documented)
    * and every square then lives in DECIMAL: SSB = Σ n_d·(m_d − m)²,
    * SST = Σ (x·10⁶ − m)². η² floors once to ppm; the one-way
    * F = [(n−D)·SSB]/[(D−1)·(SST−SSB)] rides along in ppm (calendar-
    * bounded — no growth). Constant series fail closed to NULL. One
    * corpus pass to the daily frame; everything else lives in the
    * ≤7·|types| dow frame. */
  /** Core over the raw (g, day, c) observation frame — the scale-stress
    * harness feeds duplicated replicas through this entry point. */
  def seasonalityStrength(ev: DataFrame): DataFrame = {
    val daily = ev
      .groupBy(col("g"), col("day"))
      .agg(sum(col("c")).as("x"))
      .withColumn("dow", pmod(col("day"), lit(7)))
      .localCheckpoint(true) // consumers: dow groups, totals, SST pass
    val dow = daily.groupBy(col("g"), col("dow"))
      .agg(count(lit(1)).as("n_d"), sum(col("x")).cast(dec).as("s_d"))
      .withColumn("m_d", expr("cast(s_d * 1000000 div n_d as bigint)"))
    val tot = daily.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("x")).cast(dec).as("s"),
        countDistinct(col("dow")).as("n_dow"))
      .withColumn("m", expr("cast(s * 1000000 div n as bigint)"))
    val ssb = dow.join(broadcast(tot), Seq("g"))
      .groupBy(col("g"))
      .agg(max(col("n")).as("n"), max(col("n_dow")).as("n_dow"),
        sum(expr(s"n_d * cast(m_d - m as $dec) * (m_d - m)")).as("ssb"))
    val sst = daily.join(broadcast(tot.select(col("g"), col("m"))), Seq("g"))
      .groupBy(col("g"))
      .agg(sum(expr(s"""cast(x * 1000000 - m as $dec)
        * (x * 1000000 - m)""")).as("sst"))
    val stats = ssb.join(broadcast(sst), Seq("g"))
      .select(col("g"), col("n").as("n_days"), col("n_dow"),
        expr("cast(ssb * 1000000 div nullif(sst, 0) as bigint)")
          .as("eta2_ppm"),
        expr(s"""cast(cast(n - n_dow as $dec) * ssb * 1000000
            div nullif((n_dow - 1) * (sst - ssb), 0) as bigint)""")
          .as("f_ppm"))
    dow.select(col("g"), col("dow"), col("n_d"), col("m_d").as("mean_ppm"))
      .join(broadcast(stats), Seq("g"))
      .select(col("g").as("event_type"), col("dow"), col("n_d"),
        col("mean_ppm"), col("n_days"), col("eta2_ppm"), col("f_ppm"))
      .orderBy(col("event_type"), col("dow"))
  }
  val q371_seasonality_strength: Q = (s, d) => seasonalityStrength(
    Tables.events(s, d).select(
      col("event_type").as("g"),
      expr("unix_millis(ts) div 86400000").as("day"),
      expr("cast(round(value * 100) as bigint)").as("c")))
  val q371_sql: String =
    """WITH daily AS (SELECT event_type AS g, epoch_ms(ts) // 86400000 AS day,
      |    sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS x
      |  FROM events GROUP BY 1, 2),
      |dd AS (SELECT g, day, x, day % 7 AS dow FROM daily),
      |dw AS (SELECT g, dow, count(*)::BIGINT AS n_d, sum(x)::HUGEINT AS s_d
      |       FROM dd GROUP BY 1, 2),
      |dm AS (SELECT g, dow, n_d, (s_d * 1000000 // n_d)::BIGINT AS m_d
      |       FROM dw),
      |tot AS (SELECT g, count(*)::BIGINT AS n, sum(x)::HUGEINT AS s,
      |          count(DISTINCT dow)::BIGINT AS n_dow
      |        FROM dd GROUP BY 1),
      |tm AS (SELECT g, n, n_dow, (s * 1000000 // n)::BIGINT AS m FROM tot),
      |ssb AS (SELECT dm.g, max(n)::BIGINT AS n, max(n_dow)::BIGINT AS n_dow,
      |          sum(n_d::HUGEINT * (m_d - m) * (m_d - m))::HUGEINT AS ssb
      |        FROM dm JOIN tm ON tm.g = dm.g GROUP BY 1),
      |sst AS (SELECT dd.g,
      |          sum((x::HUGEINT * 1000000 - m)
      |            * (x::HUGEINT * 1000000 - m))::HUGEINT AS sst
      |        FROM dd JOIN tm ON tm.g = dd.g GROUP BY 1),
      |o AS (SELECT ssb.g, n AS n_days, n_dow,
      |        (ssb * 1000000 // nullif(sst, 0))::BIGINT AS eta2_ppm,
      |        ((n - n_dow)::HUGEINT * ssb * 1000000
      |         // nullif((n_dow - 1) * (sst - ssb), 0))::BIGINT AS f_ppm
      |      FROM ssb JOIN sst ON sst.g = ssb.g)
      |SELECT dm.g AS event_type, dow, n_d, m_d AS mean_ppm,
      |  n_days, eta2_ppm, f_ppm
      |FROM dm JOIN o ON o.g = dm.g ORDER BY event_type, dow""".stripMargin

  // ---- q374: one-sample KS uniformity gate -----------------------------------

  /** One-sample Kolmogorov–Smirnov against the UNIFORM null on the
    * sensitive deciles' parent domain [0, B) — the "is the privacy
    * bucket actually uniform" gate that complements the two-sample
    * drift triad (q298/q336/q360 compare halves; this compares against
    * the DESIGN distribution). D = maxᵥ |F_n(v) − (v+1)/B| over the
    * DENSE domain grid (absent values are exactly where a gap shows:
    * zero-filled, cum carried by the bounded window), cross-multiplied:
    * d_num = max|cum·B − n·(v+1)|, D·10⁶ = d_num·10⁶ div (n·B). The 5%
    * verdict avoids any square root: D > 1.358/√n ⟺
    * d_num²·10⁶ > 1 844 164·n·B² (1.358² = 1.844164), exact in
    * DECIMAL(38,0) to ~10¹² rows. One corpus pass to ≤ B·|types|
    * cells. */
  def ksUniform(s: SparkSession, rel: DataFrame, bDomain: Int): DataFrame = {
    val cnt = rel.groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // consumers: group universe + dense grid
    val grid = cnt.select(col("g")).distinct()
      .crossJoin(broadcast(s.range(bDomain).select(col("id").as("v"))))
    val cum = grid.join(cnt, Seq("g", "v"), "left")
      .na.fill(0L, Seq("c"))
      .withColumn("cum", sum(col("c"))
        .over(Window.partitionBy(col("g")).orderBy(col("v"))))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("g"))))
    cum.groupBy(col("g"))
      .agg(max(col("n")).as("n"),
        max(abs(col("cum") * bDomain - col("n") * (col("v") + 1)))
          .as("d_num"))
      .select(col("g").as("event_type"), col("n"), col("d_num"),
        expr(s"cast(cast(d_num as $dec) * 1000000 div (n * $bDomain)" +
          " as bigint)").as("d_ppm"),
        expr(s"""cast(d_num as $dec) * d_num * 1000000
          <= cast(1844164 as $dec) * n * $bDomain * $bDomain""")
          .as("uniform"))
      .orderBy(col("event_type"))
  }
  val q374_ks_uniform: Q = (s, d) => ksUniform(s,
    Tables.events(s, d).select(col("event_type").as("g"),
        expr("try_cast(get_json_object(props, '$.k') as long)").as("v"))
      .where(col("v").isNotNull), 100)
  val q374_sql: String =
    """WITH rel AS (SELECT event_type AS g,
      |    TRY_CAST(json_extract(props, '$.k') AS BIGINT) AS v FROM events
      |  WHERE TRY_CAST(json_extract(props, '$.k') AS BIGINT) IS NOT NULL),
      |cnt AS (SELECT g, v, count(*)::BIGINT AS c FROM rel GROUP BY 1, 2),
      |grid AS (SELECT g, r.v FROM (SELECT DISTINCT g FROM cnt)
      |         CROSS JOIN (SELECT unnest(range(0, 100))::BIGINT AS v) r),
      |cum AS (SELECT grid.g, grid.v, coalesce(c, 0)::BIGINT AS c,
      |          sum(coalesce(c, 0)) OVER (PARTITION BY grid.g
      |            ORDER BY grid.v)::BIGINT AS cum,
      |          sum(coalesce(c, 0)) OVER (PARTITION BY grid.g)::BIGINT AS n
      |        FROM grid LEFT JOIN cnt ON cnt.g = grid.g AND cnt.v = grid.v),
      |agg AS (SELECT g, max(n)::BIGINT AS n,
      |          max(abs(cum * 100 - n * (v + 1)))::BIGINT AS d_num
      |        FROM cum GROUP BY 1)
      |SELECT g AS event_type, n, d_num,
      |  (d_num::HUGEINT * 1000000 // (n * 100))::BIGINT AS d_ppm,
      |  d_num::HUGEINT * d_num * 1000000
      |    <= 1844164::HUGEINT * n * 100 * 100 AS uniform
      |FROM agg ORDER BY event_type""".stripMargin

  // ---- q375: day-granular Wald SPRT ------------------------------------------

  /** Wald's sequential probability ratio test, evaluated at day
    * granularity — the always-on monitor that watches a share and stops
    * ITSELF the day the evidence suffices, instead of waiting for a
    * fixed horizon like q312/q353. Hypotheses: the P(k < 50) share is
    * p₀ = 0.40 (H0) vs p₁ = 0.50 (H1); each observation adds
    * log2(p₁/p₀) or log2(q₁/q₀) to the log-likelihood ratio, in the
    * libm-free [[Ilog2]] 16-bit fixed point, so the daily increment is
    * the pure integer n₁·(il(50)−il(40)) + n₀·(il(50)−il(60)) — a
    * +-monoid over the (type, day, x) census (which is what q376
    * recovers through a checkpoint). Boundaries ±log2(19) (α = β =
    * 0.05, Wald's A = (1−β)/α), ALSO via Ilog2, so both engines derive
    * every constant from the same integer fold. The cumulative walk and
    * first-crossing scan live in the ≤31-row calendar frame per type;
    * a type that never crosses reports decision = 'continue'. Long-safe
    * natively at 100 TB (10⁹ obs/day · 2·10⁴ fp ≈ 2·10¹³/day). */
  def sprtFromDailyCounts(cells: DataFrame, inc1: Long, inc0: Long,
                          thr: Long): DataFrame = {
    val cum = cells
      .withColumn("llr", col("n1") * inc1 + col("n0") * inc0)
      .withColumn("cum_llr", sum(col("llr"))
        .over(Window.partitionBy(col("g")).orderBy(col("day"))))
      .localCheckpoint(true) // consumers: crossing scan + final state
    val cross = cum.where(abs(col("cum_llr")) >= thr)
      .groupBy(col("g"))
      .agg(min(struct(col("day"), col("cum_llr"))).as("f"))
      .select(col("g"), col("f.day").as("crossed_day"),
        when(col("f.cum_llr") >= thr, "accept_h1")
          .otherwise("accept_h0").as("dec"))
    cum.groupBy(col("g"))
      .agg(count(lit(1)).as("n_days"),
        max(struct(col("day"), col("cum_llr"))).as("f"))
      .join(broadcast(cross), Seq("g"), "left")
      .select(col("g").as("event_type"), col("n_days"),
        col("f.cum_llr").as("final_llr_fp"), lit(thr).as("threshold_fp"),
        col("crossed_day"), coalesce(col("dec"), lit("continue"))
          .as("decision"))
      .orderBy(col("event_type"))
  }
  /** SPRT constants, derived once from the integer log fold (shared
    * with the q376 recovery certification). */
  private[graft] val SprtInc1: Long = Ilog2.impl(50) - Ilog2.impl(40)
  private[graft] val SprtInc0: Long = Ilog2.impl(50) - Ilog2.impl(60)
  private[graft] val SprtThr: Long = Ilog2.impl(19)
  private[queries] def sprtCells(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(col("event_type").as("g"),
        expr("unix_millis(ts) div 86400000").as("day"),
        expr("try_cast(get_json_object(props, '$.k') as long)").as("k"))
      .where(col("k").isNotNull)
      .groupBy(col("g"), col("day"))
      .agg(sum(when(col("k") < 50, 1L).otherwise(0L)).as("n1"),
        sum(when(col("k") < 50, 0L).otherwise(1L)).as("n0"))
  val q375_sprt: Q = (s, d) =>
    sprtFromDailyCounts(sprtCells(s, d), SprtInc1, SprtInc0, SprtThr)
  val q375_sql: String =
    s"""WITH rel AS (SELECT event_type AS g, epoch_ms(ts) // 86400000 AS day,
       |    TRY_CAST(json_extract(props, '$$.k') AS BIGINT) AS k FROM events
       |  WHERE TRY_CAST(json_extract(props, '$$.k') AS BIGINT) IS NOT NULL),
       |cells AS (SELECT g, day,
       |    sum(CASE WHEN k < 50 THEN 1 ELSE 0 END)::BIGINT AS n1,
       |    sum(CASE WHEN k < 50 THEN 0 ELSE 1 END)::BIGINT AS n0
       |  FROM rel GROUP BY 1, 2),
       |cum AS (SELECT g, day,
       |          sum(n1 * $SprtInc1 + n0 * $SprtInc0)
       |            OVER (PARTITION BY g ORDER BY day)::BIGINT AS cum_llr
       |        FROM cells),
       |cross_ AS (SELECT g, min(day)::BIGINT AS crossed_day,
       |             CASE WHEN arg_min(cum_llr, day) >= $SprtThr
       |               THEN 'accept_h1' ELSE 'accept_h0' END AS dec
       |           FROM cum WHERE abs(cum_llr) >= $SprtThr GROUP BY 1),
       |fin AS (SELECT g, count(*)::BIGINT AS n_days,
       |          arg_max(cum_llr, day)::BIGINT AS final_llr_fp
       |        FROM cum GROUP BY 1)
       |SELECT fin.g AS event_type, n_days, final_llr_fp,
       |  $SprtThr::BIGINT AS threshold_fp, crossed_day,
       |  coalesce(dec, 'continue') AS decision
       |FROM fin LEFT JOIN cross_ ON cross_.g = fin.g
       |ORDER BY event_type""".stripMargin

  // ---- q372: Cochran's Q -----------------------------------------------------

  /** Cochran's Q with USERS as blocks — the one blocked test in the
    * family whose block count is corpus-scale, not calendar-scale: did
    * user u trigger event type t during the FIRST CALENDAR WEEK
    * (binary; the full month saturates the grid — every user reaches
    * every type — which collapses Q's denominator to its fail-closed
    * NULL, so the gate would never exercise), and do the k types
    * differ in reach once per-user activity is blocked away? The
    * generalization of q329's McNemar to k treatments.
    * Q = (k−1)·[k·ΣC_t² − (ΣC_t)²] / (k·ΣR_u − ΣR_u²) — C_t the
    * per-type reach (bounded frame), R_u ≤ k the per-user type count,
    * so BOTH denominator sums reduce in one map-side-combinable user
    * pass; nothing ranks, nothing windows, blocks never materialize as
    * state. Exact single division to ppm, gated at χ²₍ₖ₋₁₎;0.95 for
    * k = 5 (9.487729) and NULL for any other k (the q366 wrong-df
    * convention). Users with R_u = 0 cannot occur (they would not be
    * rows); all-types-covered users (R_u = k) legitimately contribute
    * zero information to both numerator spread and denominator — the
    * formula handles them, no filter needed. */
  def cochransQ(rel: DataFrame): DataFrame = {
    val cell = rel.distinct() // (user_id, g) presence grid
      .localCheckpoint(true) // consumers: per-type reach + per-user folds
    val kf = cell.agg(countDistinct(col("g")).as("k"))
    val c = cell.groupBy(col("g")).agg(count(lit(1)).as("c_t"))
    val u = cell.groupBy(col("user_id")).agg(count(lit(1)).as("r_u"))
      .agg(sum(col("r_u")).cast(dec).as("sr"),
        sum(expr(s"cast(r_u as $dec) * r_u")).as("srr"),
        count(lit(1)).as("n_users"))
    val cs = c.agg(sum(col("c_t")).cast(dec).as("sc"),
      sum(expr(s"cast(c_t as $dec) * c_t")).as("scc"))
    val q = cs.crossJoin(broadcast(u)).crossJoin(broadcast(kf))
      .select(col("k"), col("n_users"),
        expr(s"""cast((k - 1) * (k * scc - sc * sc) * 1000000
            div nullif(k * sr - srr, 0) as bigint)""").as("q_ppm"))
    c.select(col("g").as("event_type"), col("c_t").as("reach"))
      .crossJoin(broadcast(q))
      .withColumn("differs",
        when(col("k") === 5L, col("q_ppm") > 9487729L)
          .otherwise(lit(null).cast("boolean")))
      .orderBy(col("event_type"))
  }
  val q372_cochrans_q: Q = (s, d) => cochransQ(Tables.events(s, d)
    .where(dayofmonth(col("ts")) <= 7)
    .select(col("user_id"), col("event_type").as("g")))
  val q372_sql: String =
    """WITH cell AS (SELECT DISTINCT user_id, event_type AS g FROM events
      |  WHERE date_part('day', ts) <= 7),
      |kf AS (SELECT count(DISTINCT g)::BIGINT AS k FROM cell),
      |c AS (SELECT g, count(*)::BIGINT AS c_t FROM cell GROUP BY 1),
      |u AS (SELECT sum(r_u)::HUGEINT AS sr,
      |        sum(r_u::HUGEINT * r_u)::HUGEINT AS srr,
      |        count(*)::BIGINT AS n_users
      |      FROM (SELECT user_id, count(*)::BIGINT AS r_u FROM cell
      |            GROUP BY 1)),
      |cs AS (SELECT sum(c_t)::HUGEINT AS sc,
      |         sum(c_t::HUGEINT * c_t)::HUGEINT AS scc FROM c),
      |q AS (SELECT k, n_users,
      |        ((k - 1) * (k * scc - sc * sc) * 1000000
      |         // nullif(k * sr - srr, 0))::BIGINT AS q_ppm
      |      FROM cs CROSS JOIN u CROSS JOIN kf)
      |SELECT g AS event_type, c_t AS reach, k, n_users, q_ppm,
      |  CASE WHEN k = 5 THEN q_ppm > 9487729 ELSE NULL END AS differs
      |FROM c CROSS JOIN q ORDER BY event_type""".stripMargin

  // ---- q363: Wald–Wolfowitz runs test ---------------------------------------

  /** Runs test for randomness of each type's daily revenue series: signs
    * are above/below the series' own LOWER MEDIAN (median-equal days are
    * discarded, the classic dichotomy), runs counted over day-consecutive
    * kept points, and the normal-approximation z² is exact by
    * cross-multiplication: with a = #above, b = #below, n = a+b,
    * E[R] = 2ab/n + 1 and Var[R] = 2ab(2ab−n)/(n²(n−1)), so
    * z² = ((R−1)n − 2ab)²(n−1) / (2ab(2ab−n)) — ONE division to ppm,
    * gated at χ²₁;0.95 = 3.841459 (a low z² = no serial structure the
    * Ljung–Box gate q362 would quantify). All-above or all-below (or the
    * 2ab = n degenerate) fails closed to NULL. The trend complement to
    * q338's Mann–Kendall: MK sees monotone drift, runs sees ANY
    * clustering of highs and lows. Shapes: one corpus pass to the
    * ≤31·|types| daily frame; ranks and the consecutive-pair join live
    * inside it. */
  def runsTest(ev: DataFrame): DataFrame =
    runsFromDaily(ev
      .groupBy(col("g"), col("day"))
      .agg(sum(col("c")).as("x"))
      .localCheckpoint(true)) // consumers: median scan + kept sequence

  /** Daily-sums entry (g, day, x): caller owns the checkpoint. */
  private[queries] def runsFromDaily(daily: DataFrame): DataFrame = {
    val med = daily
      .withColumn("cum", count(lit(1))
        .over(Window.partitionBy(col("g")).orderBy(col("x"), col("day"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("g"))))
      .where(col("cum") >= expr("(n + 1) div 2"))
      .groupBy(col("g")).agg(min(col("x")).as("med"))
    val kept = daily.join(broadcast(med), Seq("g"))
      .where(col("x") =!= col("med"))
      .withColumn("s", when(col("x") > col("med"), 1L).otherwise(0L))
      .withColumn("rk", row_number()
        .over(Window.partitionBy(col("g")).orderBy(col("day"))))
      .localCheckpoint(true) // consumers: both sides of the pair join
    val pairs = kept.select(col("g"), col("rk"), col("s"))
      .join(broadcast(kept.select(col("g"), (col("rk") + 1).as("rk"),
        col("s").as("s_prev"))), Seq("g", "rk"))
    val changes = pairs.groupBy(col("g"))
      .agg(sum(when(col("s") =!= col("s_prev"), 1L).otherwise(0L))
        .as("chg"))
    val agg = kept.groupBy(col("g"))
      .agg(sum(col("s")).as("a"),
        sum(lit(1L) - col("s")).as("b"))
      .join(broadcast(changes), Seq("g"), "left") // 1 kept point: no pairs
      .na.fill(0L, Seq("chg"))
    // fail-closed universe: a type whose every day equals its median has
    // an EMPTY kept sequence — it must surface as a NULL-statistic row,
    // not vanish (the q346/q366 convention)
    daily.select(col("g")).distinct()
      .join(broadcast(agg), Seq("g"), "left")
      .na.fill(0L, Seq("a", "b"))
      .withColumn("n", col("a") + col("b"))
      .withColumn("runs", when(col("n") > 0, col("chg") + 1L))
      .select(col("g").as("event_type"), col("n").as("n_days"),
        col("a").as("n_above"), col("b").as("n_below"), col("runs"),
        expr(s"""cast(
            cast((runs - 1) * n - 2 * a * b as $dec)
              * ((runs - 1) * n - 2 * a * b) * (n - 1) * 1000000
            div nullif(cast(2 as $dec) * a * b * (2 * a * b - n), 0)
          as bigint)""").as("z2_ppm"))
      .withColumn("random_order",
        when(col("z2_ppm").isNotNull, col("z2_ppm") <= 3841459L))
      .orderBy(col("event_type"))
  }
  val q363_runs_test: Q = (s, d) => runsTest(Tables.events(s, d).select(
    col("event_type").as("g"),
    expr("unix_millis(ts) div 86400000").as("day"),
    expr("cast(round(value * 100) as bigint)").as("c")))
  val q363_sql: String =
    """WITH daily AS (SELECT event_type AS g, epoch_ms(ts) // 86400000 AS day,
      |    sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS x
      |  FROM events GROUP BY 1, 2),
      |cum AS (SELECT g, day, x,
      |          count(*) OVER (PARTITION BY g ORDER BY x, day)::BIGINT AS cum,
      |          count(*) OVER (PARTITION BY g)::BIGINT AS n
      |        FROM daily),
      |med AS (SELECT g, min(x)::BIGINT AS med FROM cum
      |        WHERE cum >= (n + 1) // 2 GROUP BY 1),
      |kept AS (SELECT daily.g, day,
      |           CASE WHEN x > med THEN 1 ELSE 0 END::BIGINT AS s,
      |           row_number() OVER (PARTITION BY daily.g ORDER BY day)
      |             ::BIGINT AS rk
      |         FROM daily JOIN med ON med.g = daily.g WHERE x <> med),
      |chg AS (SELECT a.g,
      |          sum(CASE WHEN a.s <> b.s THEN 1 ELSE 0 END)::BIGINT AS chg
      |        FROM kept a JOIN kept b ON b.g = a.g AND b.rk + 1 = a.rk
      |        GROUP BY 1),
      |agg AS (SELECT kept.g, sum(s)::BIGINT AS a, sum(1 - s)::BIGINT AS b,
      |          coalesce(max(chg), 0)::BIGINT AS chg
      |        FROM kept LEFT JOIN chg ON chg.g = kept.g GROUP BY 1),
      |uni AS (SELECT DISTINCT g FROM daily),
      |o AS (SELECT uni.g, coalesce(a, 0) + coalesce(b, 0) AS n,
      |        coalesce(a, 0)::BIGINT AS a, coalesce(b, 0)::BIGINT AS b,
      |        CASE WHEN coalesce(a, 0) + coalesce(b, 0) > 0
      |          THEN chg + 1 END::BIGINT AS runs
      |      FROM uni LEFT JOIN agg ON agg.g = uni.g)
      |SELECT g AS event_type, n AS n_days, a AS n_above, b AS n_below, runs,
      |  (((runs - 1) * n - 2 * a * b)::HUGEINT
      |     * ((runs - 1) * n - 2 * a * b) * (n - 1) * 1000000
      |   // nullif(2::HUGEINT * a * b * (2 * a * b - n), 0))::BIGINT AS z2_ppm,
      |  ((runs - 1) * n - 2 * a * b)::HUGEINT
      |     * ((runs - 1) * n - 2 * a * b) * (n - 1) * 1000000
      |   // nullif(2::HUGEINT * a * b * (2 * a * b - n), 0) <= 3841459
      |    AS random_order
      |FROM o ORDER BY event_type""".stripMargin

  // ---- q364/q365: pairwise-dominance statistics (HL shift, Cliff's δ) ------

  /** Shared pairwise-difference weights between the calendar halves:
    * for each type, the (d = v_b − v_a, w = c_a·c_b) frame over the
    * ≤100×100 support grid — the sufficient statistic for both the
    * Hodges–Lehmann shift and Cliff's delta. */
  private def diffWeights(rel: DataFrame): DataFrame =
    diffWeightsCells(halfCounts(rel).localCheckpoint(true)) // 2 consumers

  /** Cells-level entry: caller owns the checkpoint of the bounded
    * frame (q368 shares one across members). */
  private def diffWeightsCells(cells: DataFrame): DataFrame = {
    cells.where(col("c_a") > 0)
      .select(col("g"), col("v"), col("c_a"))
      .join(broadcast(cells.where(col("c_b") > 0)
        .select(col("g"), col("v").as("v2"), col("c_b"))), Seq("g"))
      .groupBy(col("g"), (col("v2") - col("v")).as("d"))
      .agg(sum(expr(s"cast(c_a as $dec) * c_b")).as("w"))
  }

  private val diffWeightsSql: String =
    s"""$halfCountsSql,
       |dw AS (SELECT a.g, b.v - a.v AS d,
       |         sum(a.c_a::HUGEINT * b.c_b)::HUGEINT AS w
       |       FROM cells a JOIN cells b ON b.g = a.g
       |       WHERE a.c_a > 0 AND b.c_b > 0 GROUP BY 1, 2)""".stripMargin

  /** Two-sample Hodges–Lehmann shift estimate between the calendar
    * halves per type: the LOWER MEDIAN of all n·m pairwise differences
    * v_b − v_a — the robust location shift that pairs with q316's
    * Mann–Whitney test the way a mean pairs with a t-test. Never
    * materializes the n·m pairs: the ≤199-value difference-weight frame
    * from the support grid IS the pair multiset, and the median is a
    * cumulative-weight scan inside it. */
  def hodgesLehmann(rel: DataFrame): DataFrame = {
    val med = diffWeights(rel)
      .withColumn("cum", sum(col("w"))
        .over(Window.partitionBy(col("g")).orderBy(col("d"))))
      .withColumn("t", sum(col("w")).over(Window.partitionBy(col("g"))))
      .where(col("cum") >= expr("(t + 1) div 2"))
      .groupBy(col("g"))
      .agg(min(col("d")).as("hl_shift"),
        max(col("t")).cast("long").as("n_pairs"))
    // fail-closed universe: a type with an EMPTY half has no pairs — it
    // surfaces with n_pairs = 0 and a NULL shift, never vanishes
    rel.select(col("g")).distinct()
      .join(broadcast(med), Seq("g"), "left")
      .na.fill(0L, Seq("n_pairs"))
      .select(col("g").as("event_type"), col("n_pairs"), col("hl_shift"))
      .orderBy(col("event_type"))
  }
  val q364_hodges_lehmann: Q = (s, d) => hodgesLehmann(halfRel(s, d))
  val q364_sql: String =
    s"""WITH $diffWeightsSql,
       |cum AS (SELECT g, d, w,
       |          sum(w) OVER (PARTITION BY g ORDER BY d)::HUGEINT AS cum,
       |          sum(w) OVER (PARTITION BY g)::HUGEINT AS t
       |        FROM dw),
       |med AS (SELECT g, max(t)::BIGINT AS n_pairs, min(d)::BIGINT AS hl_shift
       |        FROM cum WHERE cum >= (t + 1) // 2 GROUP BY 1),
       |uni AS (SELECT DISTINCT g FROM cells)
       |SELECT uni.g AS event_type, coalesce(n_pairs, 0)::BIGINT AS n_pairs,
       |  hl_shift
       |FROM uni LEFT JOIN med ON med.g = uni.g ORDER BY event_type""".stripMargin

  /** Cliff's delta between the calendar halves per type: the
    * dominance effect size δ = (#(b>a) − #(b<a))/(nm) ∈ [−1, 1] that
    * accompanies a Mann–Whitney verdict (q316 says WHETHER the halves
    * differ; δ says HOW MUCH, insensitive to any monotone transform).
    * Counts come off the same difference-weight frame; δ floors once to
    * ppm (signed — both engines truncate toward zero); the magnitude
    * label uses the Romano et al. 2006 thresholds (0.147 / 0.33 /
    * 0.474). */
  def cliffsDelta(rel: DataFrame): DataFrame =
    cliffsDeltaCells(halfCounts(rel).localCheckpoint(true)) // 3 consumers

  /** Cells-level entry (caller owns the checkpoint); the fail-closed
    * universe comes off the cells frame — the same g set as the raw
    * relation's, since halfCounts only groups. */
  private[queries] def cliffsDeltaCells(cells: DataFrame): DataFrame = {
    val agg = diffWeightsCells(cells)
      .groupBy(col("g"))
      .agg(sum(when(col("d") > 0, col("w")).otherwise(lit(0L).cast(dec)))
          .as("n_gt"),
        sum(when(col("d") < 0, col("w")).otherwise(lit(0L).cast(dec)))
          .as("n_lt"),
        sum(when(col("d") === 0, col("w")).otherwise(lit(0L).cast(dec)))
          .as("n_eq"))
    // fail-closed universe: an empty half has no dominance pairs — zero
    // counts, NULL δ, NULL magnitude (never a fake 'large')
    cells.select(col("g")).distinct()
      .join(broadcast(agg), Seq("g"), "left")
      .withColumn("delta_ppm", expr(s"""cast(
          (n_gt - n_lt) * 1000000 div nullif(n_gt + n_lt + n_eq, 0)
        as bigint)"""))
      .select(col("g").as("event_type"),
        coalesce(col("n_gt").cast("long"), lit(0L)).as("n_gt"),
        coalesce(col("n_lt").cast("long"), lit(0L)).as("n_lt"),
        coalesce(col("n_eq").cast("long"), lit(0L)).as("n_eq"),
        col("delta_ppm"),
        when(col("delta_ppm").isNull, lit(null).cast("string"))
          .when(abs(col("delta_ppm")) < 147000L, "negligible")
          .when(abs(col("delta_ppm")) < 330000L, "small")
          .when(abs(col("delta_ppm")) < 474000L, "medium")
          .otherwise("large").as("magnitude"))
      .orderBy(col("event_type"))
  }
  val q365_cliffs_delta: Q = (s, d) => cliffsDelta(halfRel(s, d))
  val q365_sql: String =
    s"""WITH $diffWeightsSql,
       |agg AS (SELECT g,
       |          sum(CASE WHEN d > 0 THEN w ELSE 0 END)::HUGEINT AS n_gt,
       |          sum(CASE WHEN d < 0 THEN w ELSE 0 END)::HUGEINT AS n_lt,
       |          sum(CASE WHEN d = 0 THEN w ELSE 0 END)::HUGEINT AS n_eq
       |        FROM dw GROUP BY 1),
       |uni AS (SELECT DISTINCT g FROM cells),
       |o AS (SELECT uni.g, n_gt, n_lt, n_eq,
       |        ((n_gt - n_lt) * 1000000
       |         // nullif(n_gt + n_lt + n_eq, 0))::BIGINT AS delta_ppm
       |      FROM uni LEFT JOIN agg ON agg.g = uni.g)
       |SELECT g AS event_type, coalesce(n_gt, 0)::BIGINT AS n_gt,
       |  coalesce(n_lt, 0)::BIGINT AS n_lt,
       |  coalesce(n_eq, 0)::BIGINT AS n_eq, delta_ppm,
       |  CASE WHEN delta_ppm IS NULL THEN NULL
       |       WHEN abs(delta_ppm) < 147000 THEN 'negligible'
       |       WHEN abs(delta_ppm) < 330000 THEN 'small'
       |       WHEN abs(delta_ppm) < 474000 THEN 'medium'
       |       ELSE 'large' END AS magnitude
       |FROM o ORDER BY event_type""".stripMargin

  // ---- q366: Mood's median test ---------------------------------------------

  /** Mood's median test across document sources: dichotomize every
    * length against the POOLED lower median (above vs not-above — ties
    * stay below, the inclusive convention), then the 2×k Pearson χ²
    * collapses to (1/(A·B))·Σ_g (a_g·N − n_g·A)²/n_g because the two
    * rows of each column are complements. Per-group terms quantize once
    * to micro-units (denominators n_g differ per group — the freeze-θ
    * precedent), the final χ² floors to ppm. The median-only
    * counterpart to q359: Brown–Forsythe asks if SPREADS differ, this
    * asks if LOCATIONS do, with no moment assumptions at all. The
    * verdict gates at χ²₁₉;0.95 = 30.143527 and is NULL for any other
    * df (the constant is the 20-source corpus's; emitting a wrong-df
    * verdict would be a silent lie). Overflow design: the micro term
    * grows as n_g·N²·10⁶ and Spark's decimal-dividend `div` WRAPS a
    * long result silently (caught at the 100× stress), so the term is
    * built by quotient–remainder decomposition and stays DECIMAL; the
    * long-riding quotient (≤ n_g·N²) is safe to ~5·10⁶ docs at full
    * skew — past that, quantize terms to ppm. */
  def moodMedian(docs: DataFrame): DataFrame = {
    val cnt = docs.groupBy(col("source"), col("v"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // consumers: pooled median + group counts
    val pooled = cnt.groupBy(col("v")).agg(sum(col("c")).as("c"))
      .withColumn("cum", sum(col("c")).over(Window.orderBy(col("v"))))
      .withColumn("n", sum(col("c")).over())
      .where(col("cum") >= expr("(n + 1) div 2"))
      .agg(min(col("v")).as("m"))
    val per = cnt.crossJoin(broadcast(pooled))
      .groupBy(col("source"))
      .agg(max(col("m")).as("m"), sum(col("c")).as("n_g"),
        sum(when(col("v") > col("m"), col("c")).otherwise(0L)).as("a_g"))
      .localCheckpoint(true) // consumers: totals + per-source terms
    val tot = per.agg(sum(col("n_g")).as("n_tot"), sum(col("a_g")).as("a_tot"),
      count(lit(1)).as("k"))
    // t_micro grows as n_g·N²·10⁶ — past 2⁶³ by ~10⁵ docs/group at full
    // skew, and Spark's decimal-dividend `div` WRAPS the long result
    // silently (caught by the 100× stress: five wrapped terms turned
    // χ²×100 into χ²×13.5). Quotient–remainder decomposition keeps the
    // term in DECIMAL with the IDENTICAL floor value: d²·10⁶ div n =
    // (d² div n)·10⁶ + ((d² mod n)·10⁶ div n), and only the quotient
    // (≤ n_g·N², long-safe to ~5·10⁶ docs at full skew — past that,
    // quantize to ppm) rides a long.
    val terms = per.crossJoin(broadcast(tot))
      .withColumn("d2", expr(s"""cast(a_g * n_tot - n_g * a_tot as $dec)
          * (a_g * n_tot - n_g * a_tot)"""))
      .withColumn("qq", expr("d2 div n_g"))
      .withColumn("rr", expr(s"cast(d2 - cast(qq as $dec) * n_g as bigint)"))
      .withColumn("t_micro",
        expr(s"cast(qq as $dec) * 1000000 + rr * 1000000 div n_g"))
    val chi = terms.agg(max(col("n_tot")).as("n_tot"),
        max(col("a_tot")).as("a_tot"), max(col("k")).as("k"),
        sum(col("t_micro")).as("tsum"))
      .select(col("k"),
        expr(s"""cast(tsum div nullif(
            cast(a_tot as $dec) * (n_tot - a_tot), 0) as bigint)""")
          .as("chi2_ppm"))
    per.select(col("source"), col("m").as("pooled_median"), col("n_g"),
        col("a_g").as("n_above"))
      .crossJoin(broadcast(chi))
      .withColumn("homogeneous",
        when(col("k") === 20L, col("chi2_ppm") <= 30143527L)
          .otherwise(lit(null).cast("boolean")))
      .orderBy(col("source"))
  }
  val q366_mood_median: Q = (s, d) => moodMedian(Tables.documents(s, d)
    .select(col("source"), col("n_chars").cast("long").as("v")))
  val q366_sql: String =
    """WITH cnt AS (SELECT source, n_chars::BIGINT AS v, count(*)::BIGINT AS c
      |  FROM documents GROUP BY 1, 2),
      |pv AS (SELECT v, sum(c)::BIGINT AS c FROM cnt GROUP BY 1),
      |pc AS (SELECT v, c, sum(c) OVER (ORDER BY v)::BIGINT AS cum,
      |         sum(c) OVER ()::BIGINT AS n FROM pv),
      |pooled AS (SELECT min(v)::BIGINT AS m FROM pc
      |           WHERE cum >= (n + 1) // 2),
      |per AS (SELECT source, max(m)::BIGINT AS m, sum(c)::BIGINT AS n_g,
      |          sum(CASE WHEN v > m THEN c ELSE 0 END)::BIGINT AS a_g
      |        FROM cnt CROSS JOIN pooled GROUP BY 1),
      |tot AS (SELECT sum(n_g)::BIGINT AS n_tot, sum(a_g)::BIGINT AS a_tot,
      |          count(*)::BIGINT AS k FROM per),
      |terms AS (SELECT source, m, n_g, a_g, n_tot, a_tot, k,
      |            (a_g::HUGEINT * n_tot - n_g::HUGEINT * a_tot)
      |              * (a_g::HUGEINT * n_tot - n_g::HUGEINT * a_tot)
      |              * 1000000 // n_g AS t_micro
      |          FROM per CROSS JOIN tot),
      |chi AS (SELECT max(k)::BIGINT AS k,
      |          (sum(t_micro)
      |           // nullif(max(a_tot)::HUGEINT * (max(n_tot) - max(a_tot)),
      |                    0))::BIGINT AS chi2_ppm
      |        FROM terms)
      |SELECT source, m AS pooled_median, n_g, a_g AS n_above, chi.k,
      |  chi.chi2_ppm,
      |  CASE WHEN chi.k = 20 THEN chi.chi2_ppm <= 30143527
      |       ELSE NULL END AS homogeneous
      |FROM per CROSS JOIN chi ORDER BY source""".stripMargin

  // ---- q367: Wilcoxon signed-rank on paired half-days -----------------------

  /** Wilcoxon signed-rank test per type on the natural calendar pairing
    * (day d with day d+15): is the second half's daily revenue shifted,
    * treating each day pair as its own block? Differences of zero are
    * dropped (the classic convention); |diff| ranks are ×2 average
    * ranks from the ≤15-row bounded self-join; W2 = Σ over positive
    * diffs of r2 has exact null moments E[W2] = n(n+1)/2 and
    * 12·Var[W2] = 2n(n+1)(2n+1) − Σ(t³−t) (tie-corrected), so
    * z² = (W2 − E2)²·12 / that — ONE division to ppm, gated at
    * χ²₁;0.95. The PAIRED complement to q316's unpaired Mann–Whitney;
    * an all-zero or single-pair type fails closed to NULL. */
  def wilcoxonSigned(ev: DataFrame): DataFrame = {
    val daily = ev
      .groupBy(col("g"), col("day"))
      .agg(sum(col("c")).as("x"))
      .localCheckpoint(true) // consumers: both pairing sides
    val base = daily.agg(min(col("day")).as("d0"))
    val firstHalf = daily.crossJoin(broadcast(base))
      .where(col("day") < col("d0") + 15)
    val diffs = firstHalf
      .join(broadcast(daily.select(col("g"), (col("day") - 15).as("day"),
        col("x").as("x2"))), Seq("g", "day"))
      .withColumn("diff", col("x2") - col("x"))
      .where(col("diff") =!= 0L)
      .withColumn("ad", abs(col("diff")))
      .localCheckpoint(true) // consumers: both rank-join sides + ties
    val r2 = diffs.join(broadcast(diffs.select(col("g"),
        col("ad").as("ad2"))), Seq("g"))
      .groupBy(col("g"), col("day"))
      .agg(max(col("diff")).as("diff"),
        (sum(when(col("ad2") < col("ad"), 1L).otherwise(0L)) +
          sum(when(col("ad2") <= col("ad"), 1L).otherwise(0L)) + 1L)
          .as("r2"))
    val ties = diffs.groupBy(col("g"), col("ad")).agg(count(lit(1)).as("t"))
      .groupBy(col("g"))
      .agg(sum(expr(s"cast(t as $dec) * t * t - t")).as("tie3"))
    val agg = r2.groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("diff") > 0, col("r2")).otherwise(0L)).as("w2"))
      .join(broadcast(ties), Seq("g"))
    // fail-closed universe: a type whose every pair diff is zero drops
    // every observation — it surfaces with n_pairs = 0 and NULL moments
    daily.select(col("g")).distinct()
      .join(broadcast(agg), Seq("g"), "left")
      .withColumn("e2", expr("n * (n + 1) div 2"))
      .select(col("g").as("event_type"),
        coalesce(col("n"), lit(0L)).as("n_pairs"), col("w2"), col("e2"),
        expr(s"""cast(
            cast(w2 - e2 as $dec) * (w2 - e2) * 12 * 1000000
            div nullif(cast(2 as $dec) * n * (n + 1) * (2 * n + 1) - tie3, 0)
          as bigint)""").as("z2_ppm"))
      .withColumn("shifted",
        when(col("z2_ppm").isNotNull, col("z2_ppm") > 3841459L))
      .orderBy(col("event_type"))
  }
  val q367_wilcoxon_signed: Q = (s, d) => wilcoxonSigned(
    Tables.events(s, d).select(
      col("event_type").as("g"),
      expr("unix_millis(ts) div 86400000").as("day"),
      expr("cast(round(value * 100) as bigint)").as("c")))
  val q367_sql: String =
    """WITH daily AS (SELECT event_type AS g, epoch_ms(ts) // 86400000 AS day,
      |    sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS x
      |  FROM events GROUP BY 1, 2),
      |base AS (SELECT min(day)::BIGINT AS d0 FROM daily),
      |diffs AS (SELECT a.g, a.day, b.x - a.x AS diff, abs(b.x - a.x) AS ad
      |          FROM daily a CROSS JOIN base
      |          JOIN daily b ON b.g = a.g AND b.day = a.day + 15
      |          WHERE a.day < d0 + 15 AND b.x - a.x <> 0),
      |r2 AS (SELECT a.g, a.day, max(a.diff)::BIGINT AS diff,
      |         (sum(CASE WHEN b.ad < a.ad THEN 1 ELSE 0 END)
      |          + sum(CASE WHEN b.ad <= a.ad THEN 1 ELSE 0 END) + 1)::BIGINT
      |           AS r2
      |       FROM diffs a JOIN diffs b ON b.g = a.g GROUP BY 1, 2),
      |ties AS (SELECT g, sum(t::HUGEINT * t * t - t)::HUGEINT AS tie3
      |         FROM (SELECT g, ad, count(*)::BIGINT AS t FROM diffs
      |               GROUP BY 1, 2) GROUP BY 1),
      |agg AS (SELECT r2.g, count(*)::BIGINT AS n,
      |          sum(CASE WHEN diff > 0 THEN r2 ELSE 0 END)::BIGINT AS w2
      |        FROM r2 GROUP BY 1),
      |uni AS (SELECT DISTINCT g FROM daily),
      |o AS (SELECT uni.g, n, w2, n * (n + 1) // 2 AS e2, tie3
      |      FROM uni LEFT JOIN agg ON agg.g = uni.g
      |      LEFT JOIN ties ON ties.g = uni.g)
      |SELECT g AS event_type, coalesce(n, 0)::BIGINT AS n_pairs, w2, e2,
      |  ((w2 - e2)::HUGEINT * (w2 - e2) * 12 * 1000000
      |   // nullif(2::HUGEINT * n * (n + 1) * (2 * n + 1) - tie3, 0))::BIGINT
      |    AS z2_ppm,
      |  (w2 - e2)::HUGEINT * (w2 - e2) * 12 * 1000000
      |   // nullif(2::HUGEINT * n * (n + 1) * (2 * n + 1) - tie3, 0) > 3841459
      |    AS shifted
      |FROM o ORDER BY event_type""".stripMargin
}
