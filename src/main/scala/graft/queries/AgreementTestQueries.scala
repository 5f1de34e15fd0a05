package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.llm.TextAnalysis

/** Agreement / categorical-association registry, split out of
  * [[EvalQueries]] (the repo's ~1500-line file bar): inter-annotator
  * agreement (Cohen's kappa, weighted and unweighted; Fleiss' kappa for
  * m = 3 raters), McNemar's paired-classifier test, the
  * stride-permutation test with Benjamini-Hochberg FDR control, and
  * Cramer's V over a contingency grid. Same contract as every registry — each `q<N>_<name>` query has a
  * DuckDB `q<N>_sql` twin with identical column names and deterministic
  * ordering; all statistics are exact integer / DECIMAL(38,0)
  * arithmetic (HUGEINT on the DuckDB side), so the hashes are
  * certifiable. */
object AgreementTestQueries extends Registry {

  private val dec = "decimal(38,0)"

  // ---- q328: Cohen's kappa (inter-annotator agreement) ------------------

  /** Cohen's κ between two deterministic document "annotators" — a
    * char-length tier and a whitespace-token tier — the agreement audit
    * every labeling pipeline runs before trusting its labels (raw
    * agreement overstates quality when the marginals are skewed; κ
    * subtracts the chance-agreement floor). Both the unweighted and the
    * LINEAR-WEIGHTED κ (adjacent-tier confusions penalized 1, opposite
    * 2) come out of the same 3×3 confusion grid in one pass:
    * κ·10⁶ = (N·Σdiag − Σₖrₖcₖ)·10⁶ div (N² − Σₖrₖcₖ), exactly — the
    * classic po/pe form cleared of fractions, so no float ever exists.
    * Scale shapes: ONE map-side-combinable groupBy reduces the corpus
    * to ≤ 9 cells; margins and both κs are grid algebra (constant
    * cost); N²·10⁶ tops out DECIMAL(38,0)/HUGEINT at N ≈ 10¹⁶ docs.
    * κ can be negative (worse than chance): `div` truncates toward
    * zero identically in Spark, DuckDB, and the JVM. */
  val q328_cohens_kappa: Q = (s, d) => {
    val doc = Tables.documents(s, d).select(
      when(col("n_chars") < 200, 0L).when(col("n_chars") < 350, 1L)
        .otherwise(2L).as("ann_a"),
      when(TextAnalysis.wsTokenCount(col("text")) < 40, 0L)
        .when(TextAnalysis.wsTokenCount(col("text")) < 70, 1L)
        .otherwise(2L).as("ann_b"))
    val conf = doc.groupBy(col("ann_a"), col("ann_b"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // consumers: margins + diag + weighted sums
    val ra = conf.groupBy(col("ann_a")).agg(sum(col("c")).as("r"))
    val cb = conf.groupBy(col("ann_b")).agg(sum(col("c")).as("cc"))
    val marg = ra.crossJoin(cb).agg(
      sum(when(col("ann_a") === col("ann_b"), col("r") * col("cc"))
        .otherwise(0L)).as("chance"),
      sum(expr("abs(ann_a - ann_b) * r * cc")).as("w_chance"))
    val obs = conf.agg(sum(col("c")).as("n"),
      sum(when(col("ann_a") === col("ann_b"), col("c")).otherwise(0L))
        .as("agree"),
      sum(expr("abs(ann_a - ann_b) * c")).as("w_obs"))
    obs.crossJoin(broadcast(marg)).select(col("n"), col("agree"), col("chance"),
      expr("agree * 1000000 div n").as("po_ppm"),
      expr(s"cast(cast(chance as $dec) * 1000000 div (cast(n as $dec) * n)" +
        " as bigint)").as("pe_ppm"),
      expr(s"""cast(
          (cast(n as $dec) * agree - chance) * 1000000
          div nullif(cast(n as $dec) * n - chance, 0)
        as bigint)""").as("kappa_ppm"),
      expr(s"""cast(
          (cast(w_chance as $dec) - cast(n as $dec) * w_obs) * 1000000
          div nullif(cast(w_chance as $dec), 0)
        as bigint)""").as("kappa_w_ppm"))
  }
  val q328_sql: String =
    """WITH doc AS (SELECT
      |    CASE WHEN n_chars < 200 THEN 0 WHEN n_chars < 350 THEN 1
      |         ELSE 2 END::BIGINT AS ann_a,
      |    CASE WHEN len(list_filter(string_split_regex(text, '\s+'),
      |                              x -> x <> '')) < 40 THEN 0
      |         WHEN len(list_filter(string_split_regex(text, '\s+'),
      |                              x -> x <> '')) < 70 THEN 1
      |         ELSE 2 END::BIGINT AS ann_b
      |  FROM documents),
      |conf AS (SELECT ann_a, ann_b, count(*)::BIGINT AS c
      |         FROM doc GROUP BY 1, 2),
      |ra AS (SELECT ann_a, sum(c)::BIGINT AS r FROM conf GROUP BY 1),
      |cb AS (SELECT ann_b, sum(c)::BIGINT AS cc FROM conf GROUP BY 1),
      |marg AS (SELECT
      |    sum(CASE WHEN ann_a = ann_b THEN r * cc ELSE 0 END)::HUGEINT
      |      AS chance,
      |    sum(abs(ann_a - ann_b) * r * cc)::HUGEINT AS w_chance
      |  FROM ra CROSS JOIN cb),
      |obs AS (SELECT sum(c)::HUGEINT AS n,
      |    sum(CASE WHEN ann_a = ann_b THEN c ELSE 0 END)::HUGEINT AS agree,
      |    sum(abs(ann_a - ann_b) * c)::HUGEINT AS w_obs
      |  FROM conf)
      |SELECT n::BIGINT AS n, agree::BIGINT AS agree, chance::BIGINT AS chance,
      |  (agree * 1000000 // n)::BIGINT AS po_ppm,
      |  (chance * 1000000 // (n * n))::BIGINT AS pe_ppm,
      |  ((n * agree - chance) * 1000000 // nullif(n * n - chance, 0))::BIGINT
      |    AS kappa_ppm,
      |  ((w_chance - n * w_obs) * 1000000 // nullif(w_chance, 0))::BIGINT
      |    AS kappa_w_ppm
      |FROM obs CROSS JOIN marg""".stripMargin

  // ---- q329: McNemar's paired-classifier test ----------------------------

  /** McNemar's test on PAIRED predictions — do the " the "-containment
    * and foreign-stopword language classifiers disagree with ground
    * truth (`lang = 'en'`) at different rates on the SAME documents?
    * The paired design is the point: overall accuracies can be equal
    * while one classifier is strictly better on the cases that matter,
    * and only the discordant counts b (A right, B wrong) and c (B
    * right, A wrong) carry signal. Statistic (|b−c|−1)²/(b+c) with the
    * continuity correction, held exact: one integral division to ppm
    * against the χ²(1) 5 % critical value (3.841459·10⁶). Scale
    * shapes: the whole test is ONE map-side-combinable aggregate —
    * four counters — over any corpus size; b+c ≤ N keeps the algebra
    * in BIGINT to N ≈ 10⁶ and DECIMAL(38,0) forever. Zero discordant
    * pairs → NULL statistic → significant fail-closed false. */
  val q329_mcnemar: Q = (s, d) => {
    val doc = Tables.documents(s, d).select(
      (col("lang") === "en").as("truth"),
      col("text").contains(" the ").as("pred_a"),
      (!(col("text").contains(" de ") || col("text").contains(" la ") ||
         col("text").contains(" und ") || col("text").contains(" el ") ||
         col("text").contains(" et "))).as("pred_b"))
    doc.agg(count(lit(1)).as("n"),
        sum(when(col("pred_a") === col("truth"), 1L).otherwise(0L))
          .as("right_a"),
        sum(when(col("pred_b") === col("truth"), 1L).otherwise(0L))
          .as("right_b"),
        sum(when(col("pred_a") === col("truth") &&
                 col("pred_b") =!= col("truth"), 1L).otherwise(0L)).as("b"),
        sum(when(col("pred_a") =!= col("truth") &&
                 col("pred_b") === col("truth"), 1L).otherwise(0L)).as("c"))
      .select(col("n"), col("b"), col("c"),
        expr("right_a * 1000000 div n").as("acc_a_ppm"),
        expr("right_b * 1000000 div n").as("acc_b_ppm"),
        expr(s"""cast(
            cast(greatest(abs(b - c) - 1, 0) as $dec)
            * greatest(abs(b - c) - 1, 0) * 1000000
            div nullif(b + c, 0) as bigint)""").as("mcnemar_ppm"))
      .withColumn("significant",
        coalesce(col("mcnemar_ppm") >= 3841459L, lit(false)))
  }
  val q329_sql: String =
    """WITH doc AS (SELECT (lang = 'en') AS truth,
      |    contains(text, ' the ') AS pred_a,
      |    NOT (contains(text, ' de ') OR contains(text, ' la ')
      |         OR contains(text, ' und ') OR contains(text, ' el ')
      |         OR contains(text, ' et ')) AS pred_b
      |  FROM documents),
      |a AS (SELECT count(*)::BIGINT AS n,
      |    sum(CASE WHEN pred_a = truth THEN 1 ELSE 0 END)::BIGINT AS right_a,
      |    sum(CASE WHEN pred_b = truth THEN 1 ELSE 0 END)::BIGINT AS right_b,
      |    sum(CASE WHEN pred_a = truth AND pred_b <> truth
      |             THEN 1 ELSE 0 END)::BIGINT AS b,
      |    sum(CASE WHEN pred_a <> truth AND pred_b = truth
      |             THEN 1 ELSE 0 END)::BIGINT AS c
      |  FROM doc)
      |SELECT n, b, c,
      |  (right_a * 1000000 // n)::BIGINT AS acc_a_ppm,
      |  (right_b * 1000000 // n)::BIGINT AS acc_b_ppm,
      |  (greatest(abs(b - c) - 1, 0)::HUGEINT
      |   * greatest(abs(b - c) - 1, 0) * 1000000
      |   // nullif(b + c, 0))::BIGINT AS mcnemar_ppm,
      |  coalesce((greatest(abs(b - c) - 1, 0)::HUGEINT
      |   * greatest(abs(b - c) - 1, 0) * 1000000
      |   // nullif(b + c, 0)) >= 3841459, false) AS significant
      |FROM a""".stripMargin

  // ---- q330: stride-permutation test + Benjamini–Hochberg ---------------

  /** Weekend-vs-weekday mean-shift test per event type, with the
    * p-values themselves EXACT: a deterministic stride-permutation null
    * (99 label rotations — replica j reads row i's label from row
    * (i + 7919·j) mod n, so every replica keeps nA/nB and is pure
    * integer arithmetic) and Benjamini–Hochberg step-up across the m
    * event types. Rotations are the classic circular-shift null for
    * exchangeable rows: T = |sA·nB − sB·nA| (cross-multiplied
    * |meanA − meanB|, never a fraction), p = (1 + #{T_j ≥ T_obs})/100,
    * and BH's p(k) ≤ k·α/m becomes 100·p_num·m ≤ 5·100·k → p_num·m ≤
    * 5k — integer compares end to end, so the reject set is certifiable,
    * not float-lucky. Scale shapes: the corpus passes ONCE to build the
    * (rn, v, lab) frame (checkpointed — three consumers); the ×100
    * replica explosion shuffles on (type, shifted-rn) — partitioned by
    * key, no driver state, cost is K× the scan BY DEFINITION of the
    * test; the BH frame is m rows (bounded by the type domain), so its
    * global rank window is constant-size. T tops out at n²·maxv —
    * DECIMAL(38,0) past 10¹⁵ rows per group. */
  val q330_perm_fdr: Q = (s, d) => {
    val K = 99 // replicas; denominator K+1 = 100 (min attainable p 0.01)
    val ev = Tables.events(s, d).select(col("event_type").as("g"),
      col("event_id").cast("long").as("eid"),
      expr("cast(round(value * 100) as bigint)").as("v"),
      // day-of-week from epoch days ((d+4)%7: 0=Sun..6=Sat) — identical
      // in both engines, no timezone or dow-convention dependence
      expr("cast(case when ((unix_millis(ts) div 86400000) + 4) % 7" +
        " in (0, 6) then 1 else 0 end as bigint)").as("lab"))
    val base = ev
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("eid"))).cast("long") - 1)
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("g"))))
      .localCheckpoint(true) // consumers: explode, shifted-label join, stats
    val stats = base.groupBy(col("g"))
      .agg(sum(col("lab")).as("n_a"), count(lit(1)).as("n"))
    val labels = base.select(col("g").as("lg"), col("rn").as("lrn"),
      col("lab"))
    val perRep = base
      .select(col("g"), col("rn"), col("v"), col("n"),
        explode(expr(s"sequence(0, $K)")).as("j"))
      .withColumn("key", (col("rn") + col("j") * 7919L) % col("n"))
      .join(labels, col("g") === col("lg") && col("key") === col("lrn"))
      .groupBy(col("g"), col("j")).agg(
        sum(when(col("lab") === 1L, col("v")).otherwise(0L)).cast(dec)
          .as("sa"),
        sum(when(col("lab") === 0L, col("v")).otherwise(0L)).cast(dec)
          .as("sb"))
      .join(stats, Seq("g"))
      .withColumn("t", abs(expr("sa * (n - n_a) - sb * n_a")))
    val obs = perRep.where(col("j") === 0)
      .select(col("g"), col("t").as("t_obs"), col("n"), col("n_a"))
    val pnum = perRep.where(col("j") >= 1)
      .join(obs.select(col("g"), col("t_obs")), Seq("g"))
      .groupBy(col("g"))
      .agg((sum(when(col("t") >= col("t_obs"), 1L).otherwise(0L)) + 1L)
        .as("p_num"))
    val ranked = pnum.join(obs, Seq("g"))
      .withColumn("k", row_number().over(
        Window.orderBy(col("p_num"), col("g"))).cast("long"))
      .withColumn("m", count(lit(1)).over(
        Window.partitionBy().orderBy(col("p_num"), col("g"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val kmax = ranked.agg(
      max(when(col("p_num") * col("m") <= lit(5L) * col("k"), col("k")))
        .as("k_max"))
    ranked.crossJoin(broadcast(kmax))
      .select(col("g").as("event_type"), col("n"), col("n_a"),
        col("t_obs").cast("long").as("t_obs"), col("p_num"),
        col("k").as("bh_rank"),
        coalesce(col("k") <= col("k_max"), lit(false)).as("rejected"))
      .orderBy(col("event_type"))
  }
  val q330_sql: String =
    """WITH ev AS (SELECT event_type AS g, event_id::BIGINT AS eid,
      |    CAST(round(value * 100) AS BIGINT) AS v,
      |    CASE WHEN ((epoch_ms(ts) // 86400000) + 4) % 7 IN (0, 6)
      |         THEN 1 ELSE 0 END::BIGINT AS lab
      |  FROM events),
      |base AS (SELECT g, v, lab,
      |    row_number() OVER (PARTITION BY g ORDER BY eid) - 1 AS rn,
      |    count(*) OVER (PARTITION BY g)::BIGINT AS n
      |  FROM ev),
      |stats AS (SELECT g, sum(lab)::BIGINT AS n_a, count(*)::BIGINT AS n
      |          FROM base GROUP BY 1),
      |rep AS (SELECT e.g, e.j,
      |    sum(CASE WHEN l.lab = 1 THEN e.v ELSE 0 END)::HUGEINT AS sa,
      |    sum(CASE WHEN l.lab = 0 THEN e.v ELSE 0 END)::HUGEINT AS sb
      |  FROM (SELECT b.g, b.rn, b.v, b.n, j
      |        FROM base b CROSS JOIN (SELECT unnest(range(0, 100)) AS j)) e
      |  JOIN base l ON l.g = e.g AND l.rn = (e.rn + e.j * 7919) % e.n
      |  GROUP BY 1, 2),
      |wt AS (SELECT r.g, r.j, abs(sa * (s.n - s.n_a) - sb * s.n_a) AS t,
      |         s.n, s.n_a
      |       FROM rep r JOIN stats s ON r.g = s.g),
      |obs AS (SELECT g, t AS t_obs, n, n_a FROM wt WHERE j = 0),
      |pn AS (SELECT w.g,
      |    (1 + sum(CASE WHEN w.t >= o.t_obs THEN 1 ELSE 0 END))::BIGINT
      |      AS p_num
      |  FROM wt w JOIN obs o ON w.g = o.g WHERE w.j >= 1 GROUP BY 1),
      |rk AS (SELECT p.g, o.n, o.n_a, o.t_obs::BIGINT AS t_obs, p.p_num,
      |    row_number() OVER (ORDER BY p.p_num, p.g)::BIGINT AS k,
      |    count(*) OVER ()::BIGINT AS m
      |  FROM pn p JOIN obs o ON p.g = o.g),
      |km AS (SELECT max(CASE WHEN p_num * m <= 5 * k THEN k END) AS k_max
      |       FROM rk)
      |SELECT g AS event_type, n, n_a, t_obs, p_num, k AS bh_rank,
      |  coalesce(k <= k_max, false) AS rejected
      |FROM rk CROSS JOIN km ORDER BY event_type""".stripMargin

  // ---- q331: Cramér's V (fixed-point chi-square) -------------------------

  /** Association strength between order priority and order status —
    * χ² and Cramér's V on the 5×3 contingency grid, in fixed point:
    * each cell contributes ((N·O − r·c)²·10⁶) div (N·r·c) — the χ²
    * term (O − rc/N)²/(rc/N) cleared of fractions, floored per cell
    * (a DEFINED fixed-point statistic both engines replay verbatim,
    * the q271 info-theory convention). ZERO cells still contribute
    * (their term is rc·10⁶/N), so the grid is the margins' full cross
    * LEFT-joined to the observed cells — dropping empties understates
    * χ². V² = χ²/(N·(min(R,C)−1)) is one more integral division;
    * significance gates on the χ²(8) 5 % critical value 15.507313·10⁶.
    * Scale shapes: one map-side-combinable pass to the grid, then pure
    * domain-bounded algebra; (N·O − rc)²·10⁶ holds in
    * DECIMAL(38,0)/HUGEINT to N ≈ 10¹⁶. */
  val q331_cramers_v: Q = (s, d) => {
    val grid = Tables.orders(s, d)
      .groupBy(col("o_orderpriority").as("pr"),
        col("o_orderstatus").as("st"))
      .agg(count(lit(1)).as("o"))
      .localCheckpoint(true) // consumers: both margins + the cell join
    val ra = grid.groupBy(col("pr")).agg(sum(col("o")).as("r"))
    val cb = grid.groupBy(col("st")).agg(sum(col("o")).as("c"))
    val tots = ra.agg(count(lit(1)).as("n_r"), sum(col("r")).as("n"))
      .crossJoin(broadcast(cb.agg(count(lit(1)).as("n_c"))))
    val full = ra.crossJoin(cb)
      .join(grid, Seq("pr", "st"), "left")
      .na.fill(0L, Seq("o"))
    full.crossJoin(broadcast(tots))
      .agg(first(col("n")).as("n"), first(col("n_r")).as("n_r"),
        first(col("n_c")).as("n_c"), count(lit(1)).as("n_cells"),
        sum(expr(s"""(cast(n as $dec) * o - cast(r as $dec) * c)
            * (cast(n as $dec) * o - cast(r as $dec) * c) * 1000000
            div (cast(n as $dec) * r * c)""")).as("chi2_e6"))
      .select(col("n"), col("n_r"), col("n_c"), col("n_cells"),
        col("chi2_e6").cast("long").as("chi2_e6"),
        expr("chi2_e6 div (n * (least(n_r, n_c) - 1))").cast("long")
          .as("v2_ppm"),
        (col("chi2_e6") >= lit(15507313L)).as("significant"))
  }
  val q331_sql: String =
    """WITH grid AS (SELECT o_orderpriority AS pr, o_orderstatus AS st,
      |    count(*)::BIGINT AS o
      |  FROM orders GROUP BY 1, 2),
      |ra AS (SELECT pr, sum(o)::BIGINT AS r FROM grid GROUP BY 1),
      |cb AS (SELECT st, sum(o)::BIGINT AS c FROM grid GROUP BY 1),
      |tots AS (SELECT (SELECT count(*) FROM ra)::BIGINT AS n_r,
      |    (SELECT sum(r) FROM ra)::BIGINT AS n,
      |    (SELECT count(*) FROM cb)::BIGINT AS n_c),
      |fl AS (SELECT ra.pr, cb.st, ra.r, cb.c, coalesce(g.o, 0) AS o
      |       FROM ra CROSS JOIN cb
      |       LEFT JOIN grid g ON g.pr = ra.pr AND g.st = cb.st),
      |agg AS (SELECT count(*)::BIGINT AS n_cells,
      |    sum((n::HUGEINT * o - r::HUGEINT * c)
      |        * (n::HUGEINT * o - r::HUGEINT * c) * 1000000
      |        // (n::HUGEINT * r * c))::HUGEINT AS chi2_e6
      |  FROM fl CROSS JOIN tots)
      |SELECT n, n_r, n_c, n_cells, chi2_e6::BIGINT AS chi2_e6,
      |  (chi2_e6 // (n * (least(n_r, n_c) - 1)))::BIGINT AS v2_ppm,
      |  chi2_e6 >= 15507313 AS significant
      |FROM agg CROSS JOIN tots""".stripMargin

  // ---- q401: Fleiss' kappa (multi-rater agreement) ------------------------

  /** Fleiss' κ (Fleiss 1971) — q328's Cohen κ generalized from two raters
    * to m = 3: the multi-annotator agreement readout a labeling pipeline
    * runs when every document gets several model/heuristic judgments and
    * the question is "do the raters agree beyond chance AT ALL", not "do
    * these two particular raters agree". Raters are deterministic document
    * views (the q328 convention): the n_chars tier, the whitespace-token
    * tier, and a letter-frequency tier — three different proxies for the
    * same latent "document size" class, so agreement should be high but
    * imperfect. Per document the category counts n_ij (Σ_j n_ij = m) carry
    * everything: with S2 = Σ_i Σ_j n_ij² and C_j = Σ_i n_ij,
    * P̄ = (S2 − mN)/(m(m−1)N) and P_e = Σ_j C_j²/(mN)², so over the common
    * denominator 18N² (m = 3): κ = (3N·S2 − 9N² − 2ΣC_j²) div
    * (18N² − 2ΣC_j²) — exact integers end to end (DECIMAL(38,0) /
    * HUGEINT), ppm-scaled, NULL when P_e = 1 (every rating in one
    * category — fail closed, the q328 family convention). One corpus scan
    * to a 1-row aggregate; nothing joins. */
  val q401_fleiss_kappa: Q = (s, d) => {
    val aCount = expr("length(text) - length(replace(text, 'a', ''))")
    val doc = Tables.documents(s, d).select(
      when(col("n_chars") < 200, 0L).when(col("n_chars") < 350, 1L)
        .otherwise(2L).as("r1"),
      when(TextAnalysis.wsTokenCount(col("text")) < 40, 0L)
        .when(TextAnalysis.wsTokenCount(col("text")) < 70, 1L)
        .otherwise(2L).as("r2"),
      when(aCount < 20, 0L).when(aCount < 35, 1L).otherwise(2L).as("r3"))
    val counted = doc.select(Seq(0L, 1L, 2L).map { j =>
      ((col("r1") === j).cast("long") + (col("r2") === j).cast("long") +
        (col("r3") === j).cast("long")).as(s"n$j")
    }: _*)
    val c2 = s"(cast(c0 as $dec) * c0 + cast(c1 as $dec) * c1 + cast(c2 as $dec) * c2)"
    counted.agg(
        count(lit(1)).as("n"),
        sum(col("n0") * col("n0") + col("n1") * col("n1") +
          col("n2") * col("n2")).as("s2"),
        sum(col("n0")).as("c0"), sum(col("n1")).as("c1"),
        sum(col("n2")).as("c2"))
      .select(col("n"), col("s2"), col("c0"), col("c1"), col("c2"),
        expr(s"cast(cast(s2 - 3 * n as $dec) * 1000000 div (6 * n) as bigint)")
          .as("pbar_ppm"),
        expr(s"cast($c2 * 1000000 div (cast(n as $dec) * n * 9) as bigint)")
          .as("pe_ppm"),
        expr(s"""cast(
            (cast(n as $dec) * 3 * s2 - cast(n as $dec) * n * 9 - 2 * $c2)
              * 1000000
            div nullif(cast(n as $dec) * n * 18 - 2 * $c2, 0)
          as bigint)""").as("kappa_ppm"))
  }
  val q401_sql: String = {
    val c2 = "(c0::HUGEINT * c0 + c1::HUGEINT * c1 + c2::HUGEINT * c2)"
    s"""WITH doc AS (SELECT
       |    CASE WHEN n_chars < 200 THEN 0 WHEN n_chars < 350 THEN 1
       |         ELSE 2 END::BIGINT AS r1,
       |    CASE WHEN len(list_filter(string_split_regex(text, '\\s+'),
       |                              x -> x <> '')) < 40 THEN 0
       |         WHEN len(list_filter(string_split_regex(text, '\\s+'),
       |                              x -> x <> '')) < 70 THEN 1
       |         ELSE 2 END::BIGINT AS r2,
       |    CASE WHEN length(text) - length(replace(text, 'a', '')) < 20 THEN 0
       |         WHEN length(text) - length(replace(text, 'a', '')) < 35 THEN 1
       |         ELSE 2 END::BIGINT AS r3
       |  FROM documents),
       |cnt AS (SELECT
       |    ((r1 = 0)::BIGINT + (r2 = 0)::BIGINT + (r3 = 0)::BIGINT) AS n0,
       |    ((r1 = 1)::BIGINT + (r2 = 1)::BIGINT + (r3 = 1)::BIGINT) AS n1,
       |    ((r1 = 2)::BIGINT + (r2 = 2)::BIGINT + (r3 = 2)::BIGINT) AS n2
       |  FROM doc),
       |agg AS (SELECT count(*)::BIGINT AS n,
       |    sum(n0 * n0 + n1 * n1 + n2 * n2)::BIGINT AS s2,
       |    sum(n0)::BIGINT AS c0, sum(n1)::BIGINT AS c1,
       |    sum(n2)::BIGINT AS c2
       |  FROM cnt)
       |SELECT n, s2, c0, c1, c2,
       |  ((s2 - 3 * n)::HUGEINT * 1000000 // (6 * n))::BIGINT AS pbar_ppm,
       |  ($c2 * 1000000 // (n::HUGEINT * n * 9))::BIGINT AS pe_ppm,
       |  ((n::HUGEINT * 3 * s2 - n::HUGEINT * n * 9 - 2 * $c2) * 1000000
       |   // nullif(n::HUGEINT * n * 18 - 2 * $c2, 0))::BIGINT AS kappa_ppm
       |FROM agg""".stripMargin
  }
}
