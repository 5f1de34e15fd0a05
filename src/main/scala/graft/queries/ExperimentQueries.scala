package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Ilog2, Isqrt}
import graft.io.Tables

/** Experimentation / monitoring statistics: population-stability-index
  * drift gates (the scorecard-monitoring standard), Neyman-optimal
  * stratified sampling allocation (Neyman 1934), and CUPED
  * variance-reduced A/B readouts (Deng, Xu, Kohavi, Walker 2013) — the
  * three computations an in-production data pipeline runs every day
  * around the corpus the other families build.
  *
  * House arithmetic throughout: logs via the libm-free
  * [[graft.functions.Ilog2]] fold, roots via [[graft.functions.Isqrt]],
  * ratios cross-multiplied and floored ONCE at the readout; Spark `div`
  * and DuckDB `//` agree on negative operands (both truncate toward
  * zero — verified), so signed covariances and drift terms replay
  * exactly.
  *
  * Scale notes (100 TB): q351/q352 reduce the corpus to calendar- or
  * domain-bounded frames in one map-side-combinable pass each. q353's
  * unit of analysis is the USER (per-user pre/post totals in one
  * grouped pass — corpus-scale but hash-partitioned and combinable),
  * after which the global moment vector is a broadcast scalar row;
  * nothing ever funnels through a window or a driver loop. Moment
  * products run in DECIMAL(38,0): q353 is exact past 10⁸ users at
  * ≤ 10⁶ cents per user-total (n·Σxy·10⁶ ≤ 10³⁸); past that horizon,
  * accumulate x/y in dollars rather than cents.
  */
object ExperimentQueries extends Registry {

  private val dec = "decimal(38,0)"

  // ---- q351: population stability index (drift gate) ----------------------

  /** PSI per event type between the first and second half of the
    * calendar month, over the sensitive-decile buckets (props.k div 10):
    * PSI = Σ_b (p_b − q_b)·log(p_b/q_b), the symmetrized-KL drift score
    * every model-monitoring stack gates on — here in BITS (16-bit
    * [[Ilog2]] fixed point, so the oracle replays every log), with
    * add-one smoothing on the explicit event_type × bucket grid (a
    * bucket absent from one half is exactly the drift PSI must see, so
    * zero cells are generated, never dropped, and smoothing keeps the
    * logs finite). The fraction difference is cross-multiplied —
    * (c_a·n_b − c_b·n_a) against the shared denominator n_a·n_b — and
    * the single division lands at the very end. Gate: 0.25 bits
    * (flagged per type). Shapes: one corpus pass to the (g, half, b)
    * counts; the grid is |types| × ≤10 rows. */
  def psi(rel: DataFrame): DataFrame = {
    val il = Ilog2.ilog2 _
    val cnt = rel.groupBy(col("g"), col("half"), col("b"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // consumers: grid cells + per-half totals
    val grid = cnt.select(col("g")).distinct()
      .crossJoin(broadcast(cnt.select(col("b")).distinct()))
    val cells = grid
      .join(cnt.where(col("half") === "a").select(col("g"), col("b"),
        col("c").as("c_a")), Seq("g", "b"), "left")
      .join(cnt.where(col("half") === "b").select(col("g"), col("b"),
        col("c").as("c_b")), Seq("g", "b"), "left")
      .na.fill(0L, Seq("c_a", "c_b"))
    val tots = cnt.groupBy(col("g")).agg(
      sum(when(col("half") === "a", col("c")).otherwise(0L)).as("n_a"),
      sum(when(col("half") === "b", col("c")).otherwise(0L)).as("n_b"))
    val nb = cnt.agg(countDistinct(col("b")).as("n_buckets"))
    cells.join(broadcast(tots), Seq("g"))
      .crossJoin(broadcast(nb))
      .withColumn("ca1", col("c_a") + 1).withColumn("cb1", col("c_b") + 1)
      .withColumn("na1", col("n_a") + col("n_buckets"))
      .withColumn("nb1", col("n_b") + col("n_buckets"))
      .withColumn("dlog_fp",
        il(col("ca1")) - il(col("na1")) - il(col("cb1")) + il(col("nb1")))
      .groupBy(col("g"))
      .agg(first(col("na1")).as("na1"), first(col("nb1")).as("nb1"),
        sum(expr(s"cast(ca1 * nb1 - cb1 * na1 as $dec) * dlog_fp"))
          .as("num"))
      .select(col("g").as("event_type"), col("na1"), col("nb1"),
        expr(s"cast(num div (cast(na1 as $dec) * nb1) as bigint)")
          .as("psi_fp"))
      .withColumn("drifted", col("psi_fp") >= Ilog2.One / 4)
      .orderBy(col("event_type"))
  }
  val q351_psi: Q = (s, d) => psi(Tables.events(s, d).select(
      col("event_type").as("g"),
      when(dayofmonth(col("ts")) <= 15, lit("a")).otherwise(lit("b"))
        .as("half"),
      expr("try_cast(get_json_object(props, '$.k') as long) div 10").as("b"))
    .where(col("b").isNotNull))
  val q351_sql: String = {
    val il = (x: String) => Ilog2.sqlReplay(x)
    s"""WITH rel AS (SELECT event_type AS g,
       |    CASE WHEN date_part('day', ts) <= 15 THEN 'a' ELSE 'b' END
       |      AS half,
       |    TRY_CAST(json_extract(props, '$$.k') AS BIGINT) // 10 AS b
       |  FROM events
       |  WHERE TRY_CAST(json_extract(props, '$$.k') AS BIGINT) IS NOT NULL),
       |cnt AS (SELECT g, half, b, count(*)::BIGINT AS c FROM rel
       |        GROUP BY 1, 2, 3),
       |grid AS (SELECT g, b FROM (SELECT DISTINCT g FROM cnt)
       |         CROSS JOIN (SELECT DISTINCT b FROM cnt)),
       |cells AS (SELECT grid.g, grid.b,
       |            coalesce(a.c, 0)::BIGINT AS c_a,
       |            coalesce(bb.c, 0)::BIGINT AS c_b
       |          FROM grid
       |          LEFT JOIN cnt a ON a.g = grid.g AND a.b = grid.b
       |            AND a.half = 'a'
       |          LEFT JOIN cnt bb ON bb.g = grid.g AND bb.b = grid.b
       |            AND bb.half = 'b'),
       |tots AS (SELECT g,
       |           sum(CASE WHEN half = 'a' THEN c ELSE 0 END)::BIGINT AS n_a,
       |           sum(CASE WHEN half = 'b' THEN c ELSE 0 END)::BIGINT AS n_b
       |         FROM cnt GROUP BY 1),
       |nb AS (SELECT count(DISTINCT b)::BIGINT AS n_buckets FROM cnt),
       |sm AS (SELECT cells.g, c_a + 1 AS ca1, c_b + 1 AS cb1,
       |         n_a + n_buckets AS na1, n_b + n_buckets AS nb1
       |       FROM cells JOIN tots ON tots.g = cells.g CROSS JOIN nb),
       |t AS (SELECT g, ca1, cb1, na1, nb1,
       |        (${il("ca1")} - ${il("na1")} - ${il("cb1")} + ${il("nb1")})
       |          AS dlog_fp
       |      FROM sm),
       |agg AS (SELECT g, any_value(na1)::BIGINT AS na1,
       |          any_value(nb1)::BIGINT AS nb1,
       |          sum((ca1 * nb1 - cb1 * na1)::HUGEINT * dlog_fp)::HUGEINT
       |            AS num
       |        FROM t GROUP BY 1)
       |SELECT g AS event_type, na1, nb1,
       |  (num // (na1::HUGEINT * nb1))::BIGINT AS psi_fp,
       |  (num // (na1::HUGEINT * nb1))::BIGINT >= 16384 AS drifted
       |FROM agg ORDER BY event_type""".stripMargin
  }

  // ---- q352: Neyman-optimal stratified allocation --------------------------

  /** Allocate a 10 000-sample budget across document sources by Neyman
    * optimality — n_h ∝ N_h·S_h, the allocation that minimizes the
    * stratified-mean variance — next to the proportional baseline. S_h
    * is the per-stratum population sd of document length in CENTI-chars
    * via native [[Isqrt]]: radicand (N·Σv² − (Σv)²)·10⁴ div N², exact
    * in DECIMAL(38,0) to 10¹² docs/stratum at lengths ≤ 10⁴. ONE
    * map-side-combinable moment pass; the stratum frame is
    * source-bounded, the Σ(N_h·S_h) total a broadcast scalar. A
    * constant stratum (S_h = 0) legitimately draws a zero Neyman
    * allocation; an empty total fails closed to NULL. */
  def neyman(docs: DataFrame): DataFrame = {
    val per = docs
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_h"), sum(col("v")).cast(dec).as("sv"),
        sum(expr(s"cast(v as $dec) * v")).as("svv"))
      .withColumn("sd_centi", Isqrt.isqrt(expr(s"""cast(
          (n_h * svv - sv * sv) * 10000 div (cast(n_h as $dec) * n_h)
        as bigint)""")))
      .withColumn("w_h", expr("n_h * sd_centi"))
      .localCheckpoint(true) // consumers: totals probe + allocation readout
    val tot = per.agg(sum(col("w_h")).cast(dec).as("w_tot"),
      sum(col("n_h")).as("n_tot"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_h"), col("sd_centi"),
        expr(s"""cast(cast(10000 as $dec) * w_h div nullif(w_tot, 0)
          as bigint)""").as("alloc_neyman"),
        expr(s"""cast(cast(10000 as $dec) * n_h div nullif(n_tot, 0)
          as bigint)""").as("alloc_prop"))
      .orderBy(col("source"))
  }
  val q352_neyman: Q = (s, d) => neyman(Tables.documents(s, d)
    .select(col("source"), col("n_chars").cast("long").as("v")))
  val q352_sql: String = {
    val sq = Isqrt.sqlReplay("rad")
    s"""WITH d AS (SELECT source, n_chars::BIGINT AS v FROM documents),
       |per AS (SELECT source, count(*)::BIGINT AS n_h,
       |          sum(v)::HUGEINT AS sv, sum(v::HUGEINT * v)::HUGEINT AS svv
       |        FROM d GROUP BY 1),
       |r AS (SELECT source, n_h,
       |        ((n_h * svv - sv * sv) * 10000
       |         // (n_h::HUGEINT * n_h))::BIGINT AS rad
       |      FROM per),
       |sdd AS (SELECT source, n_h, $sq AS sd_centi FROM r),
       |w AS (SELECT source, n_h, sd_centi, n_h * sd_centi AS w_h FROM sdd),
       |tot AS (SELECT sum(w_h)::HUGEINT AS w_tot, sum(n_h)::BIGINT AS n_tot
       |        FROM w)
       |SELECT source, n_h, sd_centi,
       |  (10000::HUGEINT * w_h // nullif(w_tot, 0))::BIGINT AS alloc_neyman,
       |  (10000::HUGEINT * n_h // nullif(n_tot, 0))::BIGINT AS alloc_prop
       |FROM w CROSS JOIN tot ORDER BY source""".stripMargin
  }

  // ---- q353: CUPED variance-reduced A/B readout ----------------------------

  /** CUPED over a deterministic user split (arm = user_id % 2): the
    * unit of analysis is the user, the metric y their post-period spend
    * (cents, days 16+), the covariate x their PRE-period spend (days
    * ≤ 15; 0 for users with no pre-period activity — a total, so zero
    * is its true value, not an imputation). θ = cov(x,y)/var(x) is
    * quantized ONCE to ppm from the cross-multiplied moment form (the
    * industry practice of freezing θ before applying it, which is also
    * what makes the statistic certifiable), then each user's adjusted
    * value y·10⁶ − θ_ppm·(x·10⁶ − mean_x_ppm) div 10⁶ feeds per-arm
    * means and variances. The readout shows the point of the method:
    * per-arm adjusted means with the variance-reduction ratio
    * var_adj/var_y in ppm. Users with no post-period activity are out
    * of scope (the experiment metric is undefined for them, counted
    * nowhere); zero pre-period variance fails closed to NULL θ and
    * NULL adjusted columns. Shapes: one corpus-scale grouped pass to
    * the per-user frame (hash-partitioned, combinable), a one-row
    * moment broadcast, a second bounded pass for arm aggregates —
    * no window, no driver state. */
  def cuped(ev: DataFrame): DataFrame = {
    val users = ev.groupBy(col("user_id"))
      .agg(sum(when(col("pre") === 1, col("cents")).otherwise(0L)).as("x"),
        sum(when(col("pre") === 0, col("cents")).otherwise(0L)).as("y"),
        sum(lit(1) - col("pre")).as("post_cnt"))
      .where(col("post_cnt") > 0)
      .withColumn("arm", pmod(col("user_id"), lit(2)))
      .localCheckpoint(true) // consumers: global moments + per-arm folds
    val mom = users.agg(count(lit(1)).as("n"),
      sum(col("x")).cast(dec).as("sx"), sum(col("y")).cast(dec).as("sy"),
      sum(expr(s"cast(x as $dec) * x")).as("sxx"),
      sum(expr(s"cast(x as $dec) * y")).as("sxy"))
    val withTheta = users.crossJoin(broadcast(mom))
      .withColumn("theta_ppm", expr(s"""cast(
          (n * sxy - sx * sy) * 1000000 div nullif(n * sxx - sx * sx, 0)
        as bigint)"""))
      .withColumn("mean_x_ppm", expr("cast(sx * 1000000 div n as bigint)"))
      .withColumn("adj_ppm", expr(s"""
          y * 1000000 - cast(theta_ppm as $dec)
            * (x * 1000000 - mean_x_ppm) div 1000000"""))
    withTheta.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"),
        first(col("theta_ppm")).as("theta_ppm"),
        sum(col("y")).cast(dec).as("sy_a"),
        sum(expr(s"cast(y as $dec) * y")).as("syy_a"),
        sum(col("adj_ppm")).cast(dec).as("sa_a"),
        sum(expr(s"cast(adj_ppm as $dec) * adj_ppm")).as("saa_a"))
      .select(col("arm"), col("n_users"), col("theta_ppm"),
        expr("cast(sy_a * 1000000 div n_users as bigint)").as("mean_y_ppm"),
        expr("cast(sa_a div n_users as bigint)").as("mean_adj_ppm"),
        expr(s"""cast((n_users * syy_a - sy_a * sy_a)
            div (cast(n_users as $dec) * n_users) as bigint)""")
          .as("var_y_cents2"),
        expr(s"""cast((n_users * saa_a - sa_a * sa_a)
            div (cast(n_users as $dec) * n_users * 1000000000000)
          as bigint)""").as("var_adj_cents2"))
      .withColumn("var_ratio_ppm", expr(s"""cast(
          cast(var_adj_cents2 as $dec) * 1000000 div nullif(var_y_cents2, 0)
        as bigint)"""))
      .orderBy(col("arm"))
  }
  val q353_cuped: Q = (s, d) => cuped(Tables.events(s, d).select(
    col("user_id"),
    when(dayofmonth(col("ts")) <= 15, lit(1)).otherwise(lit(0)).as("pre"),
    expr("cast(round(value * 100) as bigint)").as("cents")))
  val q353_sql: String =
    """WITH ev AS (SELECT user_id,
      |    CASE WHEN date_part('day', ts) <= 15 THEN 1 ELSE 0 END AS pre,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |u AS (SELECT user_id,
      |        sum(CASE WHEN pre = 1 THEN cents ELSE 0 END)::BIGINT AS x,
      |        sum(CASE WHEN pre = 0 THEN cents ELSE 0 END)::BIGINT AS y,
      |        sum(1 - pre)::BIGINT AS post_cnt
      |      FROM ev GROUP BY 1),
      |users AS (SELECT user_id, x, y, user_id % 2 AS arm FROM u
      |          WHERE post_cnt > 0),
      |mom AS (SELECT count(*)::BIGINT AS n, sum(x)::HUGEINT AS sx,
      |          sum(y)::HUGEINT AS sy, sum(x::HUGEINT * x)::HUGEINT AS sxx,
      |          sum(x::HUGEINT * y)::HUGEINT AS sxy
      |        FROM users),
      |wt AS (SELECT users.*, n, sx,
      |         ((n * sxy - sx * sy) * 1000000
      |          // nullif(n * sxx - sx * sx, 0))::BIGINT AS theta_ppm,
      |         (sx * 1000000 // n)::BIGINT AS mean_x_ppm
      |       FROM users CROSS JOIN mom),
      |adj AS (SELECT arm, y, theta_ppm,
      |          y * 1000000 - theta_ppm::HUGEINT
      |            * (x * 1000000 - mean_x_ppm) // 1000000 AS adj_ppm
      |        FROM wt),
      |agg AS (SELECT arm, count(*)::BIGINT AS n_users,
      |          any_value(theta_ppm)::BIGINT AS theta_ppm,
      |          sum(y)::HUGEINT AS sy_a, sum(y::HUGEINT * y)::HUGEINT AS syy_a,
      |          sum(adj_ppm)::HUGEINT AS sa_a,
      |          sum(adj_ppm::HUGEINT * adj_ppm)::HUGEINT AS saa_a
      |        FROM adj GROUP BY 1),
      |o AS (SELECT arm, n_users, theta_ppm,
      |        (sy_a * 1000000 // n_users)::BIGINT AS mean_y_ppm,
      |        (sa_a // n_users)::BIGINT AS mean_adj_ppm,
      |        ((n_users * syy_a - sy_a * sy_a)
      |         // (n_users::HUGEINT * n_users))::BIGINT AS var_y_cents2,
      |        ((n_users * saa_a - sa_a * sa_a)
      |         // (n_users::HUGEINT * n_users * 1000000000000))::BIGINT
      |          AS var_adj_cents2
      |      FROM agg)
      |SELECT arm, n_users, theta_ppm, mean_y_ppm, mean_adj_ppm,
      |  var_y_cents2, var_adj_cents2,
      |  (var_adj_cents2::HUGEINT * 1000000 // nullif(var_y_cents2, 0))::BIGINT
      |    AS var_ratio_ppm
      |FROM o ORDER BY arm""".stripMargin

  // ---- q355: sample-ratio-mismatch gate ------------------------------------

  /** SRM — the sanity gate every experimentation platform runs BEFORE
    * trusting a readout like q353: does the realized arm split of the
    * 50/50 `user_id % 2` assignment actually look 50/50, overall and
    * inside every event-type segment (segment-level SRM catches
    * selective event loss that the overall split hides)? For two equal
    * cells the chi-square statistic collapses to (n₀−n₁)²/n exactly, so
    * it certifies with one integral division to ppm; the gate is the
    * 95% critical value χ²₍₁₎ = 3.841459. The unit is the distinct USER
    * per segment (assignment is per user, so duplicate events must not
    * inflate the test): one distinct pass — (segment, arm, user) keys,
    * corpus-reduced map-side — then a segment-bounded fold. A segment
    * with zero users cannot occur (it wouldn't be a row); n > 0 always,
    * so no divide guard is needed, but the 'overall' row is appended
    * explicitly so the global gate is part of the same certified
    * output. */
  val q355_srm: Q = (s, d) => {
    val u = Tables.events(s, d).select(col("event_type").as("g"),
        col("user_id"))
      .withColumn("arm", pmod(col("user_id"), lit(2)))
    val seg = u.select(col("g"), col("arm"), col("user_id")).distinct()
      .unionByName(u.select(lit("overall").as("g"), col("arm"),
        col("user_id")).distinct())
    seg.groupBy(col("g"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"))
      .select(col("g").as("segment"), col("n0"), col("n1"),
        expr(s"""cast(
            cast(n0 - n1 as $dec) * (n0 - n1) * 1000000 div (n0 + n1)
          as bigint)""").as("chi2_ppm"))
      .withColumn("srm", col("chi2_ppm") > 3841459L)
      .orderBy(col("segment"))
  }
  val q355_sql: String =
    """WITH u AS (SELECT event_type AS g, user_id, user_id % 2 AS arm
      |           FROM events),
      |seg AS (SELECT DISTINCT g, arm, user_id FROM u
      |        UNION ALL SELECT DISTINCT 'overall', arm, user_id FROM u),
      |agg AS (SELECT g,
      |          sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
      |          sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1
      |        FROM seg GROUP BY 1)
      |SELECT g AS segment, n0, n1,
      |  ((n0 - n1)::HUGEINT * (n0 - n1) * 1000000 // (n0 + n1))::BIGINT
      |    AS chi2_ppm,
      |  (n0 - n1)::HUGEINT * (n0 - n1) * 1000000 // (n0 + n1) > 3841459
      |    AS srm
      |FROM agg ORDER BY segment""".stripMargin

  // ---- q392: two-look Pocock group-sequential gate -------------------------

  /** Group-sequential monitoring with a Pocock boundary (Pocock 1977) —
    * the FIXED-SCHEDULE complement to q375's SPRT: instead of testing
    * after every day, the monitor peeks exactly twice (mid-month and
    * full-month) and both looks share the constant critical value
    * z = 2.178 (two looks, α = 0.05 overall — the published Pocock
    * constant), so the family-wise error stays 5% despite the double
    * look. Same hypotheses as the SPRT for family coherence: H0 says
    * the P(k < 50) share is p₀ = 0.40. Exact integers throughout:
    * z²·10⁶ = (x·10⁶ − 400000·n)² div (240000·n) (the variance
    * p₀(1−p₀) = 0.24 cross-multiplied), gated at z²·10⁶ ≥ 4 743 684 =
    * 2.178². The per-look quotient grows as ~4.2·10⁶·n — long-safe to
    * ~2·10¹² observations per look. One corpus pass to the
    * (type, look) cells; a look with n = 0 fails closed to a NULL z²,
    * and the verdict ('reject_h0' at the FIRST crossing look, else
    * 'accept_h0') treats NULL looks as non-crossings. */
  val q392_group_sequential: Q = (s, d) =>
    pocockTwoLook(Tables.events(s, d).select(col("event_type").as("g"),
        when(dayofmonth(col("ts")) <= 15, 1L).otherwise(2L).as("look"),
        expr("try_cast(get_json_object(props, '$.k') as long)").as("k"))
      // Both engines filter on the CASTED value (oracle: TRY_CAST), so a
      // props.k that is present but non-numeric — or JSON null — is out
      // of scope on BOTH sides, never counted in n1/n2 by one engine only.
      .where(col("k").isNotNull))

  /** Core over the raw (g, look ∈ {1,2}, k) relation. */
  def pocockTwoLook(rel: DataFrame): DataFrame = {
    val cells = rel
      .groupBy(col("g"))
      .agg(sum(when(col("look") === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when(col("look") === 1L && col("k") < 50, 1L).otherwise(0L))
          .as("x1"),
        count(lit(1)).as("n2"),
        sum(when(col("k") < 50, 1L).otherwise(0L)).as("x2"))
    def z2(x: String, n: String): String =
      s"""cast(cast($x as $dec) * 1000000 - cast(400000 as $dec) * $n as $dec)
         * (cast($x as $dec) * 1000000 - cast(400000 as $dec) * $n)
         div nullif(cast(240000 as $dec) * $n, 0)"""
    cells
      .withColumn("z2_1_micro", expr(s"cast(${z2("x1", "n1")} as bigint)"))
      .withColumn("z2_2_micro", expr(s"cast(${z2("x2", "n2")} as bigint)"))
      .withColumn("reject_look",
        when(col("z2_1_micro") >= 4743684L, 1L)
          .when(col("z2_2_micro") >= 4743684L, 2L)
          .otherwise(lit(null).cast("long")))
      .withColumn("decision",
        when(col("reject_look").isNotNull, "reject_h0")
          .otherwise("accept_h0"))
      .select(col("g").as("event_type"), col("n1"), col("x1"),
        col("z2_1_micro"), col("n2"), col("x2"), col("z2_2_micro"),
        col("reject_look"), col("decision"))
      .orderBy(col("event_type"))
  }
  val q392_sql: String =
    """WITH rel AS (SELECT event_type AS g,
      |    CASE WHEN date_part('day', ts) <= 15 THEN 1 ELSE 2 END AS look,
      |    TRY_CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events
      |  WHERE TRY_CAST(json_extract(props, '$.k') AS BIGINT) IS NOT NULL),
      |cells AS (SELECT g,
      |    sum(CASE WHEN look = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
      |    sum(CASE WHEN look = 1 AND k < 50 THEN 1 ELSE 0 END)::BIGINT
      |      AS x1,
      |    count(*)::BIGINT AS n2,
      |    sum(CASE WHEN k < 50 THEN 1 ELSE 0 END)::BIGINT AS x2
      |  FROM rel GROUP BY 1),
      |z AS (SELECT g, n1, x1, n2, x2,
      |    ((x1::HUGEINT * 1000000 - 400000::HUGEINT * n1)
      |     * (x1::HUGEINT * 1000000 - 400000::HUGEINT * n1)
      |     // nullif(240000::HUGEINT * n1, 0))::BIGINT AS z2_1_micro,
      |    ((x2::HUGEINT * 1000000 - 400000::HUGEINT * n2)
      |     * (x2::HUGEINT * 1000000 - 400000::HUGEINT * n2)
      |     // nullif(240000::HUGEINT * n2, 0))::BIGINT AS z2_2_micro
      |  FROM cells)
      |SELECT g AS event_type, n1, x1, z2_1_micro, n2, x2, z2_2_micro,
      |  (CASE WHEN z2_1_micro >= 4743684 THEN 1
      |        WHEN z2_2_micro >= 4743684 THEN 2 END)::BIGINT AS reject_look,
      |  CASE WHEN z2_1_micro >= 4743684 OR z2_2_micro >= 4743684
      |       THEN 'reject_h0' ELSE 'accept_h0' END AS decision
      |FROM z ORDER BY event_type""".stripMargin

  // ---- q399: upper-tail dependence gate -------------------------------------

  /** Upper-tail dependence between the event value (cents) and the
    * sensitive payload k, per event type: the empirical tail-copula
    * readout λ_U = P(k > t_k | cents > t_c) at the joint p90 corner,
    * with both thresholds the exact per-type p90 order statistics
    * (ceil convention, the q373 HDR form). Marginal drift tests
    * (q351 PSI, q360 CvM, q298 KS) see each coordinate alone; this is
    * the gate for EXTREME CO-MOVEMENT — value spikes arriving together
    * with payload spikes, the signature of heavy-tail contamination or
    * a coupled upstream bug that leaves both marginals individually
    * unremarkable. Readout: λ_U in ppm plus the independence lift
    * n_xy·n div (n_x·n_y) (≈10⁶ under independence), gated at 2×.
    * Shapes: ONE corpus pass to the (g, cents, k) counts frame — both
    * value domains are bounded, so the frame grows with DOMAIN, not
    * corpus — then thresholds (cumulative scans inside the bounded
    * frame), tail counts (conditional sums over the same frame), and
    * the ppm divisions. A type whose p90 tail is empty (constant x or
    * y) fails closed to NULL λ/lift and a false gate. */
  val q399_tail_dependence: Q = (s, d) => tailDependence(
    Tables.events(s, d).select(col("event_type").as("g"),
      expr("cast(round(value * 100) as bigint)").as("x"),
      expr("try_cast(get_json_object(props, '$.k') as long)").as("y"))
      .where(col("y").isNotNull))

  /** Core over the raw (g, x, y) relation — fuzz/stress entry point. */
  def tailDependence(rel: DataFrame): DataFrame = {
    val cnt = rel.groupBy(col("g"), col("x"), col("y"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // domain-bounded; consumers: 2 thresholds + tails
    def p90(vCol: String, out: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col(vCol))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      cnt.groupBy(col("g"), col(vCol)).agg(sum(col("c")).as("cv"))
        .withColumn("cum", sum(col("cv")).over(w))
        .withColumn("n", sum(col("cv")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("g"))))
        .where(col("cum") >= expr("(90 * n + 99) div 100"))
        .groupBy(col("g")).agg(min(col(vCol)).as(out))
    }
    val tails = cnt
      .join(broadcast(p90("x", "tx")), Seq("g"))
      .join(broadcast(p90("y", "ty")), Seq("g"))
      .groupBy(col("g"))
      .agg(sum(col("c")).as("n"),
        first(col("tx")).as("tx"), first(col("ty")).as("ty"),
        sum(when(col("x") > col("tx"), col("c")).otherwise(0L)).as("n_x"),
        sum(when(col("y") > col("ty"), col("c")).otherwise(0L)).as("n_y"),
        sum(when(col("x") > col("tx") && col("y") > col("ty"), col("c"))
          .otherwise(0L)).as("n_xy"))
    tails.select(col("g").as("event_type"), col("n"), col("tx"), col("ty"),
        col("n_x"), col("n_y"), col("n_xy"),
        expr(s"""cast(cast(n_xy as $dec) * 1000000 div nullif(n_x, 0)
          as bigint)""").as("lambda_u_ppm"),
        expr(s"""cast(cast(n_xy as $dec) * n * 1000000
          div nullif(cast(n_x as $dec) * n_y, 0) as bigint)""")
          .as("lift_ppm"))
      .withColumn("dependent", coalesce(col("lift_ppm") >= 2000000L,
        lit(false)))
      .orderBy(col("event_type"))
  }
  val q399_sql: String =
    """WITH rel AS (SELECT event_type AS g,
      |    CAST(round(value * 100) AS BIGINT) AS x,
      |    TRY_CAST(json_extract(props, '$.k') AS BIGINT) AS y FROM events
      |  WHERE TRY_CAST(json_extract(props, '$.k') AS BIGINT) IS NOT NULL),
      |cnt AS (SELECT g, x, y, count(*)::BIGINT AS c FROM rel
      |        GROUP BY 1, 2, 3),
      |cx AS (SELECT g, x, sum(c)::BIGINT AS cv FROM cnt GROUP BY 1, 2),
      |tx AS (SELECT g, min(x)::BIGINT AS tx FROM (
      |         SELECT g, x,
      |           sum(cv) OVER (PARTITION BY g ORDER BY x)::BIGINT AS cum,
      |           sum(cv) OVER (PARTITION BY g)::BIGINT AS n
      |         FROM cx)
      |       WHERE cum >= (90 * n + 99) // 100 GROUP BY 1),
      |cy AS (SELECT g, y, sum(c)::BIGINT AS cv FROM cnt GROUP BY 1, 2),
      |ty AS (SELECT g, min(y)::BIGINT AS ty FROM (
      |         SELECT g, y,
      |           sum(cv) OVER (PARTITION BY g ORDER BY y)::BIGINT AS cum,
      |           sum(cv) OVER (PARTITION BY g)::BIGINT AS n
      |         FROM cy)
      |       WHERE cum >= (90 * n + 99) // 100 GROUP BY 1),
      |t AS (SELECT cnt.g, x, y, c, tx, ty FROM cnt
      |      JOIN tx ON tx.g = cnt.g JOIN ty ON ty.g = cnt.g),
      |agg AS (SELECT g, sum(c)::BIGINT AS n,
      |          any_value(tx)::BIGINT AS tx, any_value(ty)::BIGINT AS ty,
      |          sum(CASE WHEN x > tx THEN c ELSE 0 END)::BIGINT AS n_x,
      |          sum(CASE WHEN y > ty THEN c ELSE 0 END)::BIGINT AS n_y,
      |          sum(CASE WHEN x > tx AND y > ty THEN c ELSE 0 END)::BIGINT
      |            AS n_xy
      |        FROM t GROUP BY 1)
      |SELECT g AS event_type, n, tx, ty, n_x, n_y, n_xy,
      |  (n_xy::HUGEINT * 1000000 // nullif(n_x, 0))::BIGINT
      |    AS lambda_u_ppm,
      |  (n_xy::HUGEINT * n * 1000000
      |   // nullif(n_x::HUGEINT * n_y, 0))::BIGINT AS lift_ppm,
      |  coalesce((n_xy::HUGEINT * n * 1000000
      |   // nullif(n_x::HUGEINT * n_y, 0)) >= 2000000, false) AS dependent
      |FROM agg ORDER BY event_type""".stripMargin
}
