package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Ilog2
import graft.io.Tables
import graft.llm.TextAnalysis

/** Corpus-composition statistics — the lexical and concentration audits
  * an LLM-data pipeline runs before training on a mixture: how much
  * vocabulary remains unseen (Chao1 richness, Good–Turing mass), does
  * token frequency follow the expected power law (Zipf slope), do the
  * numeric fields look organically generated (Benford digit gate), and
  * how concentrated is each source's length distribution (Gini). All
  * five reduce the corpus in ONE map-side-combinable grouped pass — to
  * the (source, token) vocabulary frame (vocab-bounded, shared by
  * q380–q382), the ≤ 9·|types| digit grid (q383, the q374 dense-domain
  * precedent), or the (source, length) support frame (q384); every join
  * after the reduction is broadcast and every window runs inside a
  * bounded frame. House arithmetic: logs via the libm-free
  * [[graft.functions.Ilog2]] fold, ratios cross-multiplied and floored
  * ONCE at the readout (per-digit quantization in q383 called out in
  * place), NULL fail-closed rows for degenerate groups.
  */
object LexicalQueries extends Registry {

  private val dec = "decimal(38,0)"

  /** Shared one-pass reduction: (source, token, c) occurrence counts —
    * the abundance frame all three vocabulary statistics consume.
    * Vocab-bounded (distinct tokens per source), not corpus-bounded. */
  private def vocabFrame(docs: DataFrame): DataFrame = docs
    .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("token"))
    .groupBy(col("source"), col("token"))
    .agg(count(lit(1)).as("c"))

  private val vocabSql: String =
    """vocab AS (SELECT source, token, count(*)::BIGINT AS c
      |  FROM (SELECT source, unnest(list_filter(
      |          string_split_regex(lower(text), '\W+'), x -> x <> ''))
      |          AS token FROM documents)
      |  GROUP BY 1, 2)""".stripMargin

  /** Per-source census of the abundance frame: the sufficient statistic
    * (V, f1, f2, N) for both richness estimators. */
  private def census(vocab: DataFrame): DataFrame = vocab
    .groupBy(col("source"))
    .agg(count(lit(1)).as("v_obs"),
      sum(when(col("c") === 1L, 1L).otherwise(0L)).as("f1"),
      sum(when(col("c") === 2L, 1L).otherwise(0L)).as("f2"),
      sum(col("c")).as("n_tokens"))

  private val censusSql: String =
    """cen AS (SELECT source, count(*)::BIGINT AS v_obs,
      |    sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS f1,
      |    sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)::BIGINT AS f2,
      |    sum(c)::BIGINT AS n_tokens
      |  FROM vocab GROUP BY 1)""".stripMargin

  // ---- q380: Chao1 vocabulary-richness estimator ---------------------------

  /** Chao1 nonparametric species-richness estimate per source (Chao
    * 1984): how many distinct tokens does the source's population hold,
    * including the ones this sample never saw? The bias-corrected form
    * V + f1·(f1−1) / (2·(f2+1)) uses only the singleton/doubleton
    * census — no second corpus pass, no rarefaction resamples — and the
    * +1 guard makes f2 = 0 (every rare token a singleton) legal rather
    * than a divide-by-zero: exactly the regime where the estimator
    * matters most. Integral floor division; a source with NO tokens
    * (all-empty texts) fails closed to NULL census fields via the
    * left-join universe rather than vanishing. */
  /** Core over the raw (source, text) frame — fuzz and the scale-stress
    * harness feed generated corpora through this entry point. */
  def chao1(docs: DataFrame): DataFrame =
    census(vocabFrame(docs))
      .withColumn("chao1", col("v_obs") +
        expr(s"cast(f1 as $dec) * (f1 - 1) div (2 * (f2 + 1))").cast("long"))
      .join(docs.select(col("source")).distinct(), Seq("source"), "right")
      .orderBy(col("source"))
      .select(col("source"), col("v_obs"), col("f1"), col("f2"),
        col("n_tokens"), col("chao1"))
  val q380_chao1_vocab: Q = (s, d) => chao1(Tables.documents(s, d))
  val q380_sql: String =
    s"""WITH $vocabSql,
       |$censusSql,
       |uni AS (SELECT DISTINCT source FROM documents)
       |SELECT uni.source, v_obs, f1, f2, n_tokens,
       |  (v_obs + (f1::HUGEINT * (f1 - 1)) // (2 * (f2 + 1)))::BIGINT
       |    AS chao1
       |FROM uni LEFT JOIN cen ON cen.source = uni.source
       |ORDER BY uni.source""".stripMargin

  // ---- q381: Good–Turing unseen mass ---------------------------------------

  /** Good–Turing frequency estimation per source (Good 1953): the
    * probability mass the NEXT token is one never seen in this sample —
    * P₀ = f1/N, the number every coverage claim about a corpus slice
    * should carry — plus the smoothed count for once-seen tokens,
    * r*₁ = 2·f2/f1 (micro units): how much a singleton's raw count
    * overstates its true frequency. One readout off the same census
    * frame as q380. Fail-closed: f1 = 0 (no singletons) makes r*₁
    * NULL, never a fabricated smoothing; an all-empty source carries
    * NULL census fields through the universe join. */
  /** Core over the raw (source, text) frame. */
  def goodTuring(docs: DataFrame): DataFrame =
    census(vocabFrame(docs))
      .withColumn("p0_ppm",
        expr(s"cast(cast(f1 as $dec) * 1000000 div n_tokens as bigint)"))
      .withColumn("r1_star_micro", expr(
        s"cast(cast(f2 as $dec) * 2000000 div nullif(f1, 0) as bigint)"))
      .join(docs.select(col("source")).distinct(), Seq("source"), "right")
      .orderBy(col("source"))
      .select(col("source"), col("n_tokens"), col("f1"), col("f2"),
        col("p0_ppm"), col("r1_star_micro"))
  val q381_good_turing: Q = (s, d) => goodTuring(Tables.documents(s, d))
  val q381_sql: String =
    s"""WITH $vocabSql,
       |$censusSql,
       |uni AS (SELECT DISTINCT source FROM documents)
       |SELECT uni.source, n_tokens, f1, f2,
       |  (f1::HUGEINT * 1000000 // n_tokens)::BIGINT AS p0_ppm,
       |  (f2::HUGEINT * 2000000 // nullif(f1, 0))::BIGINT AS r1_star_micro
       |FROM uni LEFT JOIN cen ON cen.source = uni.source
       |ORDER BY uni.source""".stripMargin

  // ---- q382: Zipf rank-frequency slope -------------------------------------

  /** Zipf's-law fit per source: OLS slope of ilog2(frequency) against
    * ilog2(rank) over the top-100 tokens — the power-law exponent
    * (≈ −1·65536/65536 for natural language; a synthetic or templated
    * corpus shows up as a flat or cliff-shaped slope). Ranking runs
    * INSIDE the vocab-bounded frame (row_number by count desc with the
    * token string as the deterministic tie-break, then rank ≤ 100), so
    * no corpus-scale window exists; the regression moments reduce the
    * ≤100-row frame to one line. slope_ppm = (n·Σxy − Σx·Σy)·10⁶ div
    * (n·Σx² − (Σx)²) — fp-16 log units cancel, both engines truncate
    * the signed ratio toward zero (q351-family verified). n < 2 fails
    * closed to NULL (the denominator is positive for n ≥ 2: ranks are
    * distinct so x has spread). */
  /** Core over the raw (source, text) frame. */
  def zipfSlope(docs: DataFrame): DataFrame = {
    val ranked = vocabFrame(docs)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("c").desc, col("token"))))
      .where(col("rank") <= 100)
      .select(col("source"), Ilog2.ilog2(col("rank")).as("x"),
        Ilog2.ilog2(col("c")).as("y"))
    ranked.groupBy(col("source"))
      .agg(count(lit(1)).as("n_top"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr(s"cast(x as $dec) * y")).as("sxy"),
        sum(expr(s"cast(x as $dec) * x")).as("sxx"))
      .select(col("source"), col("n_top"),
        expr(s"""cast((n_top * sxy - cast(sx as $dec) * sy) * 1000000
            div nullif(n_top * sxx - cast(sx as $dec) * sx, 0)
          as bigint)""").as("slope_ppm"))
      .orderBy(col("source"))
  }
  val q382_zipf_slope: Q = (s, d) => zipfSlope(Tables.documents(s, d))
  val q382_sql: String = {
    val ilr = Ilog2.sqlReplay("rank")
    val ilc = Ilog2.sqlReplay("c")
    s"""WITH $vocabSql,
       |rk AS (SELECT source, c, token,
       |         row_number() OVER (PARTITION BY source
       |           ORDER BY c DESC, token)::BIGINT AS rank
       |       FROM vocab),
       |pts AS (SELECT source, $ilr AS x, $ilc AS y
       |        FROM rk WHERE rank <= 100),
       |mo AS (SELECT source, count(*)::BIGINT AS n_top,
       |         sum(x)::HUGEINT AS sx, sum(y)::HUGEINT AS sy,
       |         sum(x::HUGEINT * y)::HUGEINT AS sxy,
       |         sum(x::HUGEINT * x)::HUGEINT AS sxx
       |       FROM pts GROUP BY 1)
       |SELECT source, n_top,
       |  ((n_top * sxy - sx * sy) * 1000000
       |   // nullif(n_top * sxx - sx * sx, 0))::BIGINT AS slope_ppm
       |FROM mo ORDER BY source""".stripMargin
  }

  // ---- q383: Benford first-digit gate --------------------------------------

  /** First-significant-digit test against Benford's law per event type —
    * the "does this numeric field look organically generated" forensic
    * gate (Benford 1938; Nigrini's audit use). The expected proportions
    * log₁₀(1 + 1/d) are compile-time ppm constants that sum to exactly
    * 10⁶; observed digits come from one corpus pass to the ≤ 9·|types|
    * grid, zero-filled over the DENSE 1..9 domain (q374's grid
    * precedent — a digit that never occurs is evidence, not an absent
    * row). χ²·10⁶ = Σ_d (O_d·10⁶ − n·p_d)² div (n·p_d), quantized per
    * digit (each term has its own denominator — the q359 convention).
    * The per-digit quotient grows as ~n·2.2·10⁷, so the sum is exact to
    * ~4·10¹¹ events/type (past that, quantize counts to kilo-units
    * first — Spark's decimal-dividend `div` wraps silently, the
    * q366 stress lesson). Verdict gates at χ²₈;0.95 = 15.507313; a type
    * with no value ≥ 1 fails closed to NULL through the universe
    * join. */
  /** Core over the raw (g, v) relation; the universe (fail-closed NULL
    * rows) is every g in the relation, INCLUDING types whose every v
    * is below 1. */
  def benford(rel: DataFrame): DataFrame =
    benfordFromDigits(rel.select(col("g")).distinct(), rel
      .where(col("v") >= 1L)
      .withColumn("dg", substring(col("v").cast("string"), 1, 1).cast("long"))
      .groupBy(col("g"), col("dg")).agg(count(lit(1)).as("o")))

  /** Census-level entry: `digits` is the (g, first-digit, count) census
    * (any provenance — the q390 recovery cert feeds recovered gridCount
    * registers), `universe` the fail-closed g set. */
  def benfordFromDigits(universe: DataFrame, digits: DataFrame): DataFrame = {
    // log10(1+1/d) in ppm; sums to exactly 1_000_000
    val p = Seq(301030L, 176091L, 124939L, 96910L, 79181L, 66947L,
      57992L, 51153L, 45757L)
    val s = digits.sparkSession
    val grid = digits.select(col("g")).distinct()
      .crossJoin(broadcast(s.range(1, 10).select(col("id").as("dg"))))
      .join(digits, Seq("g", "dg"), "left")
      .na.fill(0L, Seq("o"))
      .withColumn("p_ppm",
        element_at(array(p.map(lit): _*), col("dg").cast("int")))
      .withColumn("n", sum(col("o")).over(Window.partitionBy(col("g"))))
    val chi = grid
      .withColumn("t", expr(s"""cast(o as $dec) * 1000000 - cast(n as $dec)
          * p_ppm"""))
      .groupBy(col("g"))
      .agg(max(col("n")).as("n"),
        sum(expr(s"t * t div (cast(n as $dec) * p_ppm)")).as("chi2_micro"))
    universe
      .join(broadcast(chi), Seq("g"), "left")
      .select(col("g").as("event_type"), col("n"),
        col("chi2_micro").cast("long").as("chi2_micro"),
        (col("chi2_micro").cast("long") <= 15507313L).as("benford"))
      .orderBy(col("event_type"))
  }
  val q383_benford: Q = (s, d) => benford(Tables.events(s, d)
    .select(col("event_type").as("g"),
      expr("cast(round(value * 100) as bigint)").as("v")))
  val q383_sql: String =
    """WITH ev AS (SELECT event_type AS g,
      |    CAST(round(value * 100) AS BIGINT) AS v FROM events),
      |dig AS (SELECT g, CAST(substr(CAST(v AS VARCHAR), 1, 1) AS BIGINT)
      |          AS dg, count(*)::BIGINT AS o
      |        FROM ev WHERE v >= 1 GROUP BY 1, 2),
      |pp AS (SELECT unnest(range(1, 10))::BIGINT AS dg,
      |         unnest([301030, 176091, 124939, 96910, 79181, 66947,
      |                 57992, 51153, 45757])::BIGINT AS p_ppm),
      |grid AS (SELECT u.g, pp.dg, pp.p_ppm, coalesce(o, 0)::BIGINT AS o
      |         FROM (SELECT DISTINCT g FROM dig) u
      |         CROSS JOIN pp
      |         LEFT JOIN dig ON dig.g = u.g AND dig.dg = pp.dg),
      |gn AS (SELECT g, dg, p_ppm, o,
      |         sum(o) OVER (PARTITION BY g)::BIGINT AS n FROM grid),
      |chi AS (SELECT g, max(n)::BIGINT AS n,
      |          sum((o::HUGEINT * 1000000 - n::HUGEINT * p_ppm)
      |              * (o::HUGEINT * 1000000 - n::HUGEINT * p_ppm)
      |              // (n::HUGEINT * p_ppm))::HUGEINT AS chi2_micro
      |        FROM gn GROUP BY 1)
      |SELECT u.g AS event_type, n, chi2_micro::BIGINT AS chi2_micro,
      |  chi2_micro <= 15507313 AS benford
      |FROM (SELECT DISTINCT g FROM ev) u
      |LEFT JOIN chi ON chi.g = u.g
      |ORDER BY event_type""".stripMargin

  // ---- q384: Gini concentration of document lengths ------------------------

  /** Gini coefficient of the length distribution per source — the
    * concentration audit for a mixture: G near 0 means uniform
    * contribution per document, G near 1 means a few giants dominate
    * the source's byte budget. Computed WITHOUT the O(support²)
    * pairwise difference grid: over the (source, length) counts frame,
    * ordered by length, the pair sum Σ_{i<j} c_i·c_j·(v_j − v_i)
    * telescopes to Σ_j c_j·(v_j·Nb_j − Sb_j) with Nb/Sb the
    * cumulative count / cumulative value-sum BEFORE row j — one bounded
    * window, one readout: G·10⁶ = 2·P·10⁶ div (n·T). The quotient is
    * ≤ 10⁶ by construction, long-safe at any corpus size; P at 10⁸
    * docs ≤ 10⁴ chars stays inside DECIMAL(38,0). T = 0 (every length
    * zero) fails closed to NULL; a single document gives G = 0. */
  /** Core over the raw (source, v) observation frame. */
  def giniLengths(docs: DataFrame): DataFrame = {
    val cnt = docs
      .groupBy(col("source"), col("v")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("source")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    cnt
      .withColumn("nb", coalesce(sum(col("c")).over(w), lit(0L)))
      .withColumn("sb", coalesce(sum(expr(s"cast(c as $dec) * v")).over(w),
        lit(0L).cast(dec)))
      .withColumn("p", expr(s"cast(c as $dec) * (cast(v as $dec) * nb - sb)"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_docs"),
        sum(expr(s"cast(c as $dec) * v")).cast("long").as("total_chars"),
        sum(col("p")).as("psum"))
      .select(col("source"), col("n_docs"), col("total_chars"),
        expr(s"""cast(psum * 2000000
            div nullif(cast(n_docs as $dec) * total_chars, 0)
          as bigint)""").as("gini_ppm"))
      .orderBy(col("source"))
  }
  val q384_gini_lengths: Q = (s, d) => giniLengths(Tables.documents(s, d)
    .select(col("source"), col("n_chars").cast("long").as("v")))
  val q384_sql: String =
    """WITH cnt AS (SELECT source, n_chars::BIGINT AS v, count(*)::BIGINT AS c
      |  FROM documents GROUP BY 1, 2),
      |cum AS (SELECT source, v, c,
      |    coalesce(sum(c) OVER (PARTITION BY source ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::HUGEINT
      |      AS nb,
      |    coalesce(sum(c::HUGEINT * v) OVER (PARTITION BY source ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::HUGEINT
      |      AS sb
      |  FROM cnt),
      |agg AS (SELECT source, sum(c)::BIGINT AS n_docs,
      |          sum(c::HUGEINT * v)::BIGINT AS total_chars,
      |          sum(c::HUGEINT * (v::HUGEINT * nb - sb))::HUGEINT AS psum
      |        FROM cum GROUP BY 1)
      |SELECT source, n_docs, total_chars,
      |  (psum * 2000000
      |   // nullif(n_docs::HUGEINT * total_chars, 0))::BIGINT AS gini_ppm
      |FROM agg ORDER BY source""".stripMargin

  // ---- q385: square-root temperature mixture weights -----------------------

  /** Square-root temperature sampling weights per source — the τ = 0.5
    * mixture rebalancing multilingual training uses (up-weight small
    * sources, damp giants): w_s ∝ √n_s over per-source token counts,
    * exact via the native [[graft.functions.Isqrt]] (bit-replayed by
    * `sqlReplay`, the q324/q342 precedent — no float pow). One corpus
    * pass reduces to |sources| rows (token counts are a +-monoid);
    * everything after is a broadcast of the grand total. Readout:
    * raw share, √-tempered weight, and the resampling boost factor
    * w_s/share_s in micro units — the number a mixture planner
    * multiplies epochs by. A zero-token source legitimately carries
    * weight 0 (not NULL — it exists, it just contributes nothing); its
    * BOOST is NULL (0/0 fails closed). */
  /** Core over the raw (source, text) frame. */
  def sqrtMixture(docs: DataFrame): DataFrame =
    sqrtMixtureFromCounts(docs
      .select(col("source"), TextAnalysis.wsTokenCount(col("text")).as("tk"))
      .groupBy(col("source")).agg(sum(col("tk")).as("n_tok")))

  /** Counts-level readout (source, n_tok) — the register form the q387
    * streaming recovery cert feeds from its durable token-count cells. */
  def sqrtMixtureFromCounts(counts: DataFrame): DataFrame = {
    val per = counts
      .withColumn("rt", graft.functions.Isqrt.isqrt(col("n_tok")))
    val tot = per.agg(sum(col("n_tok")).as("n_all"), sum(col("rt")).as("rt_all"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tok"),
        expr(s"cast(cast(n_tok as $dec) * 1000000 div nullif(n_all, 0)" +
          " as bigint)").as("share_ppm"),
        expr(s"cast(cast(rt as $dec) * 1000000 div nullif(rt_all, 0)" +
          " as bigint)").as("weight_ppm"))
      .withColumn("boost_micro", expr(s"""cast(
          cast(weight_ppm as $dec) * 1000000 div nullif(share_ppm, 0)
        as bigint)"""))
      .orderBy(col("source"))
  }
  val q385_sqrt_mixture: Q = (s, d) => sqrtMixture(Tables.documents(s, d))
  val q385_sql: String = {
    val rt = graft.functions.Isqrt.sqlReplay("n_tok")
    s"""WITH per AS (SELECT source,
       |    sum(len(list_filter(string_split_regex(text, '\\s+'),
       |          x -> x <> '')))::BIGINT AS n_tok
       |  FROM documents GROUP BY 1),
       |p2 AS (SELECT source, n_tok, $rt AS rt FROM per),
       |tot AS (SELECT sum(n_tok)::BIGINT AS n_all, sum(rt)::BIGINT AS rt_all
       |        FROM p2),
       |o AS (SELECT source, n_tok,
       |        (n_tok::HUGEINT * 1000000 // nullif(n_all, 0))::BIGINT
       |          AS share_ppm,
       |        (rt::HUGEINT * 1000000 // nullif(rt_all, 0))::BIGINT
       |          AS weight_ppm
       |      FROM p2 CROSS JOIN tot)
       |SELECT source, n_tok, share_ppm, weight_ppm,
       |  (weight_ppm::HUGEINT * 1000000 // nullif(share_ppm, 0))::BIGINT
       |    AS boost_micro
       |FROM o ORDER BY source""".stripMargin
  }

  // ---- q386: dedup-aware effective token budget ----------------------------

  /** What a source REALLY contributes after exact dedup: raw vs
    * effective (keeper-only) token counts per source, and the waste
    * ratio a mixture planner should discount by. Keepers follow q61's
    * global election (min doc_id per content hash, so a doc duplicated
    * ACROSS sources counts once, for the source holding the smallest
    * id). Shapes: one per-doc pass (hash + token count), one
    * hash-grouped keeper election, one shuffle equi-join back on
    * (hash, keeper id) — no window over the corpus, no broadcast of
    * corpus-sized state — then two |sources|-bounded aggregates. A
    * source whose every doc lost its election reports effective 0/0 —
    * real rows, zero waste denominator fails closed to NULL. */
  /** Core over the raw (doc_id, source, text) frame. */
  def dedupTokens(raw: DataFrame): DataFrame = {
    val docs = raw
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"),
        TextAnalysis.wsTokenCount(col("text")).as("tk"))
      .localCheckpoint(true) // consumers: keeper election + raw agg + join
    val keep = docs.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
    val eff = docs.join(keep, Seq("h", "doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_keepers"), sum(col("tk")).as("tok_eff"))
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tk")).as("tok_raw"))
      .join(broadcast(eff), Seq("source"), "left")
      .na.fill(0L, Seq("n_keepers", "tok_eff"))
      .withColumn("waste_ppm", expr(s"""cast(
          cast(tok_raw - tok_eff as $dec) * 1000000 div nullif(tok_raw, 0)
        as bigint)"""))
      .orderBy(col("source"))
  }
  val q386_dedup_tokens: Q = (s, d) =>
    dedupTokens(Tables.widen(Tables.documents(s, d)))
  val q386_sql: String =
    """WITH docs AS (SELECT doc_id, source, md5(text) AS h,
      |    len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
      |      ::BIGINT AS tk
      |  FROM documents),
      |keep AS (SELECT h, min(doc_id) AS doc_id FROM docs GROUP BY 1),
      |eff AS (SELECT source, count(*)::BIGINT AS n_keepers,
      |          sum(tk)::BIGINT AS tok_eff
      |        FROM docs JOIN keep USING (h, doc_id) GROUP BY 1),
      |raw AS (SELECT source, count(*)::BIGINT AS n_docs,
      |          sum(tk)::BIGINT AS tok_raw
      |        FROM docs GROUP BY 1)
      |SELECT raw.source, n_docs, tok_raw,
      |  coalesce(n_keepers, 0)::BIGINT AS n_keepers,
      |  coalesce(tok_eff, 0)::BIGINT AS tok_eff,
      |  ((tok_raw - coalesce(tok_eff, 0))::HUGEINT * 1000000
      |   // nullif(tok_raw, 0))::BIGINT AS waste_ppm
      |FROM raw LEFT JOIN eff ON eff.source = raw.source
      |ORDER BY raw.source""".stripMargin

  // ---- q391: per-source corpus-health gate (composition) -------------------

  /** The lexical capstone composition (the q368 precedent applied to
    * sources): one verdict row per source wiring the family's gates
    * into the release check a curation pipeline runs before training on
    * a mixture slice — (1) q380's Chao1 coverage V/Ĉ ≥ 0.90 (the sample
    * saw most of the population vocabulary), (2) q381's unseen mass
    * P₀ ≤ 0.10, (3) q382's Zipf slope inside the natural-language band
    * [−2.2, −0.5] (flat = templated, cliff = degenerate), (4) q384's
    * Gini ≤ 0.60 (no handful of giants owns the byte budget), and (5)
    * q386's dedup waste ≤ 0.25. Every member is the SAME code path as
    * its standalone query (the oracle joins the member oracles as
    * subqueries); the composition adds only |sources|-bounded broadcast
    * joins and a null-safe verdict — any NULL gate fails closed to
    * unhealthy. */
  val q391_corpus_health: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val ch = chao1(docs).select(col("source"), col("v_obs"), col("chao1"))
      .withColumn("coverage_ppm", expr(
        s"cast(cast(v_obs as $dec) * 1000000 div nullif(chao1, 0) as bigint)"))
    val gt = goodTuring(docs).select(col("source"), col("p0_ppm"))
    val zs = zipfSlope(docs).select(col("source"), col("slope_ppm"))
    val gi = giniLengths(docs.select(col("source"),
        col("n_chars").cast("long").as("v")))
      .select(col("source"), col("gini_ppm"))
    val dt = dedupTokens(Tables.widen(docs)
        .select(col("doc_id"), col("source"), col("text")))
      .select(col("source"), col("waste_ppm"))
    ch.join(broadcast(gt), Seq("source"))
      .join(broadcast(zs), Seq("source"), "left") // all-empty source: no vocab
      .join(broadcast(gi), Seq("source"))
      .join(broadcast(dt), Seq("source"))
      .withColumn("healthy",
        coalesce(col("coverage_ppm") >= 900000L, lit(false)) &&
          coalesce(col("p0_ppm") <= 100000L, lit(false)) &&
          coalesce(col("slope_ppm").between(-2200000L, -500000L),
            lit(false)) &&
          coalesce(col("gini_ppm") <= 600000L, lit(false)) &&
          coalesce(col("waste_ppm") <= 250000L, lit(false)))
      .select(col("source"), col("coverage_ppm"), col("p0_ppm"),
        col("slope_ppm"), col("gini_ppm"), col("waste_ppm"), col("healthy"))
      .orderBy(col("source"))
  }
  val q391_sql: String =
    s"""WITH ch AS (SELECT source, v_obs, chao1,
       |       (v_obs::HUGEINT * 1000000 // nullif(chao1, 0))::BIGINT
       |         AS coverage_ppm
       |     FROM ($q380_sql)),
       |gt AS (SELECT source, p0_ppm FROM ($q381_sql)),
       |zs AS (SELECT source, slope_ppm FROM ($q382_sql)),
       |gi AS (SELECT source, gini_ppm FROM ($q384_sql)),
       |dt AS (SELECT source, waste_ppm FROM ($q386_sql))
       |SELECT ch.source, coverage_ppm, p0_ppm, slope_ppm, gini_ppm,
       |  waste_ppm,
       |  (coalesce(coverage_ppm >= 900000, false)
       |   AND coalesce(p0_ppm <= 100000, false)
       |   AND coalesce(slope_ppm BETWEEN -2200000 AND -500000, false)
       |   AND coalesce(gini_ppm <= 600000, false)
       |   AND coalesce(waste_ppm <= 250000, false)) AS healthy
       |FROM ch JOIN gt USING (source) LEFT JOIN zs USING (source)
       |  JOIN gi USING (source) JOIN dt USING (source)
       |ORDER BY ch.source""".stripMargin

  // ---- q393: trimmed-mean location audit ------------------------------------

  /** 10%-trimmed mean of document lengths per source — the robust
    * location readout between the mean (q324's moments) and the median
    * (q389): drop the lowest and highest t = ⌊n/10⌋ observations and
    * average the rest, so up to 10% garbage per tail (truncated docs,
    * concatenation blobs) cannot move the number. Computed WITHOUT
    * sorting individual rows: over the (source, length) counts frame,
    * each value contributes min(max(t − cumBefore, 0), c) rows to the
    * clipped low tail (symmetrically from the top via the reversed
    * cumulative), so the trimmed sum is total − lowClip − highClip off
    * ONE bounded window pass. Also reports the winsorized cut points
    * (the values at ranks t+1 and n−t). trimmed_mean_ppm floors once;
    * n − 2t = 0 cannot occur for n ≥ 1 (t = n div 10 < n/2), so the
    * readout is total for every non-empty source; an all-empty corpus
    * simply has no rows. */
  val q393_trimmed_mean: Q = (s, d) => trimmedMean(Tables.documents(s, d)
    .select(col("source"), col("n_chars").cast("long").as("v")))

  /** Core over the raw (source, v) observation frame. */
  def trimmedMean(docs: DataFrame): DataFrame = {
    val cnt = docs.groupBy(col("source"), col("v"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("source")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wr = Window.partitionBy(col("source")).orderBy(col("v").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    cnt
      .withColumn("nb", coalesce(sum(col("c")).over(w), lit(0L)))
      .withColumn("na", coalesce(sum(col("c")).over(wr), lit(0L)))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("source"))))
      .withColumn("t", expr("n div 10"))
      .withColumn("lo_clip",
        expr("least(greatest(t - nb, 0), c)")) // rows clipped from below
      .withColumn("hi_clip",
        expr("least(greatest(t - na, 0), c)")) // rows clipped from above
      .groupBy(col("source"))
      .agg(max(col("n")).as("n_docs"), max(col("t")).as("n_trimmed_per_tail"),
        min(when(col("nb") + col("c") >= col("t") + 1, col("v")))
          .as("lo_cut"),
        max(when(col("na") + col("c") >= col("t") + 1, col("v")))
          .as("hi_cut"),
        sum(expr(s"cast(c - lo_clip - hi_clip as $dec) * v")).as("st"))
      .select(col("source"), col("n_docs"), col("n_trimmed_per_tail"),
        col("lo_cut"), col("hi_cut"),
        expr(s"""cast(st * 1000000
            div (n_docs - 2 * n_trimmed_per_tail) as bigint)""")
          .as("trimmed_mean_ppm"))
      .orderBy(col("source"))
  }
  val q393_sql: String =
    """WITH cnt AS (SELECT source, n_chars::BIGINT AS v, count(*)::BIGINT AS c
      |  FROM documents GROUP BY 1, 2),
      |cum AS (SELECT source, v, c,
      |    coalesce(sum(c) OVER (PARTITION BY source ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
      |      AS nb,
      |    coalesce(sum(c) OVER (PARTITION BY source ORDER BY v DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
      |      AS na,
      |    sum(c) OVER (PARTITION BY source)::BIGINT AS n
      |  FROM cnt),
      |cl AS (SELECT source, v, c, nb, na, n, n // 10 AS t,
      |         least(greatest(n // 10 - nb, 0), c) AS lo_clip,
      |         least(greatest(n // 10 - na, 0), c) AS hi_clip
      |       FROM cum)
      |SELECT source, max(n)::BIGINT AS n_docs,
      |  max(t)::BIGINT AS n_trimmed_per_tail,
      |  min(CASE WHEN nb + c >= t + 1 THEN v END)::BIGINT AS lo_cut,
      |  max(CASE WHEN na + c >= t + 1 THEN v END)::BIGINT AS hi_cut,
      |  (sum((c - lo_clip - hi_clip)::HUGEINT * v) * 1000000
      |   // (max(n) - 2 * max(t)))::BIGINT AS trimmed_mean_ppm
      |FROM cl GROUP BY 1 ORDER BY source""".stripMargin

  // ---- q405: vocabulary growth curve (Heaps-law readout) -----------------

  /** Vocabulary GROWTH curve: distinct-token count after each quarter of
    * the corpus (by doc_id — the ingestion order), the Heaps-law readout
    * that answers "is this corpus still yielding new vocabulary, or is
    * the tail all repeats?" — the number a data-mixing plan reads before
    * deciding whether more of a source buys diversity or duplication.
    * Checkpoints are deterministic VALUE thresholds — quarter marks of
    * the [min, max] doc_id range, t_q = lo + ((hi−lo+1)·q) div 4 − 1 —
    * not ranks, so no global row_number exists anywhere (the shardAssign
    * lesson): per checkpoint, docs and token occurrences are conditional
    * sums over one pass, and the vocabulary count reduces to the
    * vocab-bounded first-seen frame (min doc_id per token). new_vocab
    * diffs consecutive checkpoints on the 4-row readout; type_token_ppm
    * = vocab·10⁶ div occurrences is the curve's slope proxy, exact. */
  val q405_vocab_growth: Q = (s, d) => vocabGrowth(Tables.documents(s, d))

  /** Core over the raw (doc_id, text) frame — fuzz/stress entry point. */
  def vocabGrowth(docs: DataFrame): DataFrame = {
    val th = docs.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .select(explode(array((1L to 4L).map(q => struct(lit(q).as("quarter"),
        expr(s"lo + ((hi - lo + 1) * $q) div 4 - 1").as("t"))): _*)).as("s"))
      .select(col("s.quarter").as("quarter"), col("s.t").as("t"))
      .localCheckpoint(true) // 4 rows; consumers: docs, occurrences, vocab
    // doc counts AND occurrence counts come from the ROW-LOCAL per-doc
    // token count (size of the token array — no explode), so the corpus
    // is tokenized instance-by-instance exactly once, in the first-seen
    // pass below (the review fix: the first draft exploded twice).
    val docTok = docs.select(col("doc_id"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"))
    val nd = docTok.crossJoin(broadcast(th))
      .where(col("doc_id") <= col("t"))
      .groupBy(col("quarter"), col("t"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_occurrences"))
    val firstSeen = docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(min(col("doc_id")).as("first_doc"))
    val voc = firstSeen.crossJoin(broadcast(th))
      .where(col("first_doc") <= col("t"))
      .groupBy(col("quarter")).agg(count(lit(1)).as("vocab"))
    nd.join(voc, Seq("quarter"))
      .select(col("quarter"), col("t").as("doc_id_max"), col("n_docs"),
        col("n_occurrences"), col("vocab"))
      .withColumn("new_vocab", col("vocab") -
        coalesce(lag(col("vocab"), 1).over(
          Window.orderBy(col("quarter"))), lit(0L)))
      .withColumn("type_token_ppm",
        expr(s"cast(cast(vocab as $dec) * 1000000 div nullif(n_occurrences, 0)" +
          " as bigint)"))
      .orderBy(col("quarter"))
  }
  val q405_sql: String =
    """WITH b AS (SELECT min(doc_id)::BIGINT AS lo, max(doc_id)::BIGINT AS hi
      |  FROM documents),
      |th AS (SELECT q AS quarter,
      |    lo + ((hi - lo + 1) * q) // 4 - 1 AS t
      |  FROM b, (SELECT unnest([1, 2, 3, 4])::BIGINT AS q)),
      |nd AS (SELECT quarter, t, count(*)::BIGINT AS n_docs
      |  FROM documents JOIN th ON doc_id <= t GROUP BY 1, 2),
      |toks AS (SELECT doc_id, unnest(list_filter(
      |    string_split_regex(lower(text), '\W+'), x -> x <> '')) AS token
      |  FROM documents),
      |occ AS (SELECT quarter, count(*)::BIGINT AS n_occurrences
      |  FROM toks JOIN th ON doc_id <= t GROUP BY 1),
      |fs AS (SELECT token, min(doc_id)::BIGINT AS first_doc FROM toks
      |  GROUP BY 1),
      |voc AS (SELECT quarter, count(*)::BIGINT AS vocab
      |  FROM fs JOIN th ON first_doc <= t GROUP BY 1)
      |SELECT nd.quarter, t AS doc_id_max, n_docs, n_occurrences, vocab,
      |  (vocab - coalesce(lag(vocab) OVER (ORDER BY nd.quarter), 0))::BIGINT
      |    AS new_vocab,
      |  (vocab::HUGEINT * 1000000 // nullif(n_occurrences, 0))::BIGINT
      |    AS type_token_ppm
      |FROM nd JOIN occ USING (quarter) JOIN voc USING (quarter)
      |ORDER BY quarter""".stripMargin
}
