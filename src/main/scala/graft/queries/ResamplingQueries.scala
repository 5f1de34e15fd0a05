package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Isqrt
import graft.io.Tables

/** Resampling-based uncertainty, split from [[EvalQueries]] (round-11
  * verdict: the registry had grown two unrelated families — rank/
  * agreement statistics and resampling — past the repo's ~1500-line
  * file bar). Both queries follow the only resampling shapes that run
  * at corpus scale: the bootstrap materializes NO resample (replica
  * counts are deterministic hash draws, the whole B=32 ensemble is one
  * map-side-combinable groupBy over a ×B explode) and the jackknife
  * deletes BLOCKS (sources), reducing the corpus to |sources| rows
  * before any readout math. Same contract as every registry: each
  * `q<N>_<name>` query has a DuckDB `q<N>_sql` twin with identical column names
  * and deterministic ordering, exact integer / DECIMAL(38,0) arithmetic
  * throughout. */
object ResamplingQueries extends Registry {

  private val dec = "decimal(38,0)"

  // ---- q342: deterministic Poisson-bootstrap standard error -------------

  /** Bootstrap standard error + CI of the mean value per event type,
    * done the only way a bootstrap CAN run at corpus scale: no resample
    * is ever materialized by row shuffling — each observation's replica
    * count in rep j is a DETERMINISTIC hash draw (md5(eid:j) mod 10⁴
    * against the Poisson(1) inverse CDF: thresholds 3679/7358/9197/9810
    * — the online/Poisson bootstrap, Oza & Russell 2001; Chamandy et al.
    * 2012 "Estimating Uncertainty for Massive Data Streams"), so every
    * rep is a single map-side-combinable aggregate and the whole B=32
    * ensemble is ONE groupBy over a ×B explode — the q330 replica shape,
    * cost K× the scan by definition. Determinism makes the p-less
    * interval CERTIFIABLE: DuckDB replays the same md5 draws bit-for-bit
    * (the q125/q330 seeded-resampling convention), so rep means, SE²
    * (exact integral division), and the ±2·SE interval (native
    * [[graft.functions.Isqrt]], bit-replayed by [[Isqrt.sqlReplay]])
    * hash-match. Rep means are ppm longs; the raw Σc·v / Σv sums AND
    * the B·Σm² − (Σm)² moments all run in DECIMAL(38,0)/HUGEINT (safe
    * past 10⁹-row groups — no long sum with its earlier ~2·10¹²-row
    * horizon survives in the pipeline); a rep that draws
    * zero replicas (impossible beyond toy n — P ≈ 0.37ⁿ) is excluded
    * from b_eff rather than dividing by zero. */
  def bootstrapSe(ev: DataFrame, b: Int): DataFrame = {
    require(b >= 2, s"bootstrap needs >= 2 reps (got $b)")
    val reps = ev.select(col("g"), col("eid"), col("v"),
        explode(expr(s"sequence(1, $b)")).as("j"))
      .withColumn("u", graft.operators.Kmv.hash32(
        concat(col("eid"), lit(":"), col("j"))) % 10000)
      .withColumn("c",
        when(col("u") < 3679, 0L).when(col("u") < 7358, 1L)
          .when(col("u") < 9197, 2L).when(col("u") < 9810, 3L)
          .otherwise(4L))
      .groupBy(col("g"), col("j"))
      // c·v summed in DECIMAL(38,0) like the oracle's HUGEINT (round-12
      // advice): a raw long sum would hit its ~2·10¹² rows-per-group
      // horizon (c ≤ 4, v ≤ 10⁶ cents) long before the decimal does,
      // and with a DIFFERENT failure mode than the oracle's.
      .agg(sum(expr(s"cast(c as $dec) * v")).as("sv"), sum(col("c")).as("nc"))
      .where(col("nc") > 0)
      .select(col("g"),
        expr(s"cast(sv * 1000000 div nc as bigint)").as("m"))
    val boot = reps.groupBy(col("g")).agg(
      count(lit(1)).as("b_eff"),
      sum(col("m")).cast(dec).as("sm"),
      sum(expr(s"cast(m as $dec) * m")).as("smm"))
    val obs = ev.groupBy(col("g")).agg(count(lit(1)).as("n"),
        sum(col("v").cast(dec)).as("sv_all"))
      .select(col("g"), col("n"),
        expr(s"cast(sv_all * 1000000 div n as bigint)")
          .as("mean_ppm"))
    obs.join(boot, Seq("g"))
      .withColumn("se2_ppm2", expr(s"""cast(
          (b_eff * smm - sm * sm) div nullif(b_eff * (b_eff - 1), 0)
        as bigint)"""))
      .withColumn("se_ppm", Isqrt.isqrt(col("se2_ppm2")))
      .select(col("g").as("event_type"), col("n"), col("mean_ppm"),
        col("b_eff"), col("se_ppm"),
        (col("mean_ppm") - col("se_ppm") * 2).as("ci_lo_ppm"),
        (col("mean_ppm") + col("se_ppm") * 2).as("ci_hi_ppm"))
      .orderBy(col("event_type"))
  }
  val q342_bootstrap_se: Q = (s, d) => bootstrapSe(
    Tables.events(s, d).select(col("event_type").as("g"),
      col("event_id").cast("long").as("eid"),
      expr("cast(round(value * 100) as bigint)").as("v")), b = 32)
  val q342_sql: String = {
    val se = Isqrt.sqlReplay("se2_ppm2")
    s"""WITH ev AS (SELECT event_type AS g, event_id::BIGINT AS eid,
       |    CAST(round(value * 100) AS BIGINT) AS v FROM events),
       |reps AS (SELECT g, eid, v, unnest(range(1, 33))::BIGINT AS j FROM ev),
       |h AS (SELECT g, j, v,
       |    ('0x' || substr(md5(concat(eid, ':', j)), 1, 8))::BIGINT % 10000
       |      AS u
       |  FROM reps),
       |cr AS (SELECT g, j, v,
       |    (CASE WHEN u < 3679 THEN 0 WHEN u < 7358 THEN 1
       |          WHEN u < 9197 THEN 2 WHEN u < 9810 THEN 3
       |          ELSE 4 END)::BIGINT AS c
       |  FROM h),
       |pr AS (SELECT g, j, sum(c * v)::HUGEINT AS sv, sum(c)::BIGINT AS nc
       |       FROM cr GROUP BY 1, 2),
       |m AS (SELECT g, (sv * 1000000 // nc)::BIGINT AS m FROM pr
       |      WHERE nc > 0),
       |boot AS (SELECT g, count(*)::BIGINT AS b_eff,
       |           sum(m)::HUGEINT AS sm, sum(m::HUGEINT * m)::HUGEINT AS smm
       |         FROM m GROUP BY 1),
       |obs AS (SELECT g, count(*)::BIGINT AS n,
       |          (sum(v)::HUGEINT * 1000000 // count(*))::BIGINT AS mean_ppm
       |        FROM ev GROUP BY 1),
       |j2 AS (SELECT obs.g, n, mean_ppm, b_eff,
       |         ((b_eff * smm - sm * sm)
       |          // nullif(b_eff * (b_eff - 1), 0))::BIGINT AS se2_ppm2
       |       FROM obs JOIN boot USING (g)),
       |j3 AS (SELECT g, n, mean_ppm, b_eff, $se AS se_ppm FROM j2)
       |SELECT g AS event_type, n, mean_ppm, b_eff, se_ppm,
       |  mean_ppm - 2 * se_ppm AS ci_lo_ppm,
       |  mean_ppm + 2 * se_ppm AS ci_hi_ppm
       |FROM j3 ORDER BY event_type""".stripMargin
  }

  // ---- q343: delete-one-block jackknife ----------------------------------

  /** Delete-one-SOURCE jackknife over document lengths — the influence
    * audit a curation pipeline wants before shipping a mixture: "which
    * source, removed, moves the corpus mean the most?" plus the grouped
    * jackknife variance (Tukey 1958; delete-a-block because observations
    * within a source are dependent — row-level jackknife would understate).
    * θ₍ₛ₎ = (T−T_s)·10⁶ div (N−N_s) per source off ONE map-side-combinable
    * aggregate pass (the corpus reduces to |sources| rows before any
    * readout math), the totals broadcast back, and var_jack =
    * (S−1)(S·Σθ² − (Σθ)²) div S³ in DECIMAL(38,0) on the bounded frame.
    * A source that IS the whole corpus fails closed: its θ₍ₛ₎ is NULL
    * (0/0 guarded), and the variance over a NULL set is NULL, never a
    * fabricated zero. */
  def jackknifeBlocks(docs: DataFrame): DataFrame = {
    val per = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_s"), sum(col("v")).as("t_s"))
      .localCheckpoint(true) // consumers: totals + per-source readout
    val tot = per.agg(sum(col("n_s")).as("n"), sum(col("t_s")).as("t"))
    val loo = per.crossJoin(broadcast(tot))
      .withColumn("mean_all_ppm",
        expr(s"cast(cast(t as $dec) * 1000000 div n as bigint)"))
      .withColumn("loo_ppm", expr(s"""cast(
          cast(t - t_s as $dec) * 1000000 div nullif(n - n_s, 0)
        as bigint)"""))
      .withColumn("influence_ppm", col("loo_ppm") - col("mean_all_ppm"))
      .localCheckpoint(true) // consumers: variance fold + final readout
    val stats = loo.agg(count(lit(1)).as("s_cnt"),
      sum(col("loo_ppm")).cast(dec).as("sl"),
      sum(expr(s"cast(loo_ppm as $dec) * loo_ppm")).as("sll"))
    loo.crossJoin(broadcast(stats))
      .select(col("source"), col("n_s"), col("t_s"), col("mean_all_ppm"),
        col("loo_ppm"), col("influence_ppm"),
        expr(s"""cast(
            (s_cnt - 1) * (s_cnt * sll - sl * sl)
            div nullif(cast(s_cnt as $dec) * s_cnt * s_cnt, 0)
          as bigint)""").as("var_jack_ppm2"))
      .orderBy(col("source"))
  }
  val q343_jackknife_sources: Q = (s, d) => jackknifeBlocks(
    Tables.documents(s, d).select(col("source"),
      length(col("text")).cast("long").as("v")))
  val q343_sql: String =
    """WITH docs AS (SELECT source, length(text)::BIGINT AS v
      |              FROM documents),
      |per AS (SELECT source, count(*)::BIGINT AS n_s, sum(v)::BIGINT AS t_s
      |        FROM docs GROUP BY 1),
      |tot AS (SELECT sum(n_s)::BIGINT AS n, sum(t_s)::BIGINT AS t FROM per),
      |loo AS (SELECT source, n_s, t_s,
      |          (t::HUGEINT * 1000000 // n)::BIGINT AS mean_all_ppm,
      |          ((t - t_s)::HUGEINT * 1000000
      |           // nullif(n - n_s, 0))::BIGINT AS loo_ppm
      |        FROM per CROSS JOIN tot),
      |l2 AS (SELECT *, loo_ppm - mean_all_ppm AS influence_ppm FROM loo),
      |st AS (SELECT count(*)::BIGINT AS s_cnt, sum(loo_ppm)::HUGEINT AS sl,
      |         sum(loo_ppm::HUGEINT * loo_ppm)::HUGEINT AS sll
      |       FROM l2)
      |SELECT source, n_s, t_s, mean_all_ppm, loo_ppm, influence_ppm,
      |  ((s_cnt - 1) * (s_cnt * sll - sl * sl)
      |   // nullif(s_cnt::HUGEINT * s_cnt * s_cnt, 0))::BIGINT
      |    AS var_jack_ppm2
      |FROM l2 CROSS JOIN st ORDER BY source""".stripMargin
}
