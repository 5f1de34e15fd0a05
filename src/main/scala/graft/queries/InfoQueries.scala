package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Ilog2
import graft.io.Tables
import graft.llm.TextAnalysis

/** Information-theoretic scoring over `documents`, certified via the
  * libm-free fixed-point log2 primitive ([[graft.functions.Ilog2]]):
  * per-source token entropy, chi-square feature selection, an in-engine
  * Naive Bayes language classifier (train + classify + confusion), and
  * fixed-point bigram cross-entropy (the log-domain form of perplexity —
  * q132/q141 score fluency as rationals; this family scores it in
  * bits/token, which is what loss curves and data-quality dashboards
  * actually plot).
  *
  * Every logarithm is [[Ilog2]]'s 16-step shift-and-square fold in 16-bit
  * fixed point — pure 64-bit integer arithmetic, so the DuckDB oracle
  * replays it EXACTLY ([[Ilog2.sqlReplay]]) and every score hash-matches.
  * No IEEE transcendentals anywhere.
  *
  * Scale notes (100 TB): entropy/chi2/NB aggregates are all keyed by
  * (label, token) — content-bounded vocabulary cardinality, never corpus
  * row counts; the selected-feature vocabulary and the trained weight
  * table are bounded by 8 x |labels| and broadcast, so classification is
  * map-side after one explode. `sum(c * ilog2(c))` stays inside BIGINT
  * until ~2x10^12 tokens per group (N . 63 . 2^16 < 2^63); past that,
  * accumulate the product in DECIMAL(38,0) like q226/q238.
  */
object InfoQueries extends Registry {

  private val il: Column => Column = Ilog2.ilog2
  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** Token stream with labels: (doc_id, lang, source, tok), one row per
    * occurrence. The family's single scan shape. */
  private def docTokensOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("source"),
      explode(TextAnalysis.tokens(col("text"))).as("tok"))

  private def docTokens(s: SparkSession, d: String): DataFrame =
    docTokensOf(Tables.documents(s, d))

  /** Everything downstream of the corpus scan is parameterized by the
    * docs source (q282 trains on a hash split), so each CTE builder
    * takes the source relation name; the plain vals keep the
    * full-corpus default. */
  private def tokCteOf(src: String): String =
    s"""tk AS (SELECT doc_id, lang, source,
      |         unnest(list_filter(string_split_regex(lower(text), '\\W+'),
      |                            x -> x <> '')) AS tok
      |       FROM $src)""".stripMargin

  private val tokCte: String = tokCteOf("documents")

  // ---- q271: per-source unigram token entropy ---------------------------

  /** Per-source Shannon entropy of the unigram token distribution, in
    * 16-bit fixed-point bits/token: H = log2 N − (Σ c·log2 c)/N, every
    * log the [[Ilog2]] integer fold. Low entropy flags templated /
    * repetitive sources (the Gopher-style quality signal, but in actual
    * bits). Shapes: one explode, one (source, tok) count, one per-source
    * aggregate — vocabulary-bounded throughout. */
  val q271_entropy: Q = (s, d) => {
    val c = docTokens(s, d).groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c"))
    c.groupBy(col("source"))
      .agg(sum(col("c")).as("n_tok"), count(lit(1)).as("vocab"),
        sum(col("c") * il(col("c"))).as("s_fp"))
      .select(col("source"), col("n_tok"), col("vocab"),
        (il(col("n_tok")) - expr("s_fp div n_tok")).as("entropy_fp"))
      .orderBy(col("source"))
  }

  val q271_sql: String =
    s"""WITH $tokCte,
      |c AS (SELECT source, tok, count(*)::BIGINT AS c FROM tk GROUP BY 1, 2),
      |a AS (SELECT source, sum(c)::BIGINT AS n_tok, count(*)::BIGINT AS vocab,
      |        sum(c * ${Ilog2.sqlReplay("c")})::BIGINT AS s_fp
      |      FROM c GROUP BY 1)
      |SELECT source, n_tok, vocab,
      |       (${Ilog2.sqlReplay("n_tok")} - s_fp // n_tok)::BIGINT AS entropy_fp
      |FROM a ORDER BY source""".stripMargin

  // ---- q272: chi-square feature selection (label = lang) ----------------

  /** Per-(lang, token) 2x2 contingency grid over DOC-LEVEL presence:
    * a = in-lang docs containing the token, with margins d_l (in-lang
    * docs), d_t (docs containing token), n. Zero cells (token absent
    * from a language) are generated explicitly via the bounded langs x
    * candidate-tokens grid — absence is evidence too. Candidate floor
    * df >= 5 and df < n keeps every margin strictly positive. */
  private def contingencyOf(docs: DataFrame): DataFrame = {
    val dp = docTokensOf(docs).select(col("lang"), col("doc_id"), col("tok"))
      .distinct()
      .localCheckpoint(true) // consumers: a-counts + candidate df counts
    val n = docs.agg(count(lit(1)).as("n"))
    val dl = docs.groupBy(col("lang")).agg(count(lit(1)).as("d_l"))
    val cand = dp.groupBy(col("tok")).agg(count(lit(1)).as("d_t"))
      .join(broadcast(n), expr("d_t >= 5") && col("d_t") < col("n"))
    val a = dp.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("a"))
    broadcast(dl).crossJoin(broadcast(cand)) // |langs| x |vocab|: bounded
      .join(a, Seq("lang", "tok"), "left").na.fill(0L, Seq("a"))
  }

  private def contingency(s: SparkSession, d: String): DataFrame =
    contingencyOf(Tables.documents(s, d))

  /** Chi-square scores over [[contingency]]. Numerator/denominator in
    * DECIMAL(38,0) (N·(ad−bc)² passes 2^63 at ~10^4 docs); one integral
    * division to ppm. */
  private def chi2TableOf(docs: DataFrame): DataFrame =
    contingencyOf(docs)
      .withColumn("adbc",
        dec(col("a")) * dec(col("n") - col("d_l") - col("d_t") + col("a"))
          - dec(col("d_l") - col("a")) * dec(col("d_t") - col("a")))
      .withColumn("num", dec(col("n")) * col("adbc") * col("adbc") * lit(1000000L))
      .withColumn("den", dec(col("d_l")) * dec(col("n") - col("d_l"))
        * dec(col("d_t")) * dec(col("n") - col("d_t")))
      .select(col("lang"), col("tok"), col("a"), col("d_t"),
        expr("num div den").as("chi2_ppm"))

  private def chi2Table(s: SparkSession, d: String): DataFrame =
    chi2TableOf(Tables.documents(s, d))

  /** Top-8 tokens per language by chi-square association with that
    * language — the feature-selection step ahead of any lightweight
    * quality/language classifier. Deterministic tie-break (score desc,
    * token asc); the window partitions by language over the
    * vocabulary-bounded chi-square table, never corpus rows. */
  val q272_chi2_features: Q = (s, d) => {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("chi2_ppm").desc, col("tok").asc)
    chi2Table(s, d).withColumn("rank", row_number().over(w))
      .where(col("rank") <= 8)
      .select(col("lang"), col("rank").cast("long").as("rank"), col("tok"),
        col("chi2_ppm"), col("a"), col("d_t"))
      .orderBy(col("lang"), col("rank"))
  }

  // The oracle's flat rendering of the same 2x2 algebra.
  private def chi2FlatCtesOf(src: String): String =
    s"""${tokCteOf(src)},
      |dp AS (SELECT DISTINCT lang, doc_id, tok FROM tk),
      |nn AS (SELECT count(*)::BIGINT AS n FROM $src),
      |dl AS (SELECT lang, count(*)::BIGINT AS d_l FROM $src GROUP BY 1),
      |cand AS (SELECT tok, count(*)::BIGINT AS d_t FROM dp GROUP BY 1
      |         HAVING count(*) >= 5 AND count(*) < (SELECT n FROM nn)),
      |ac AS (SELECT lang, tok, count(*)::BIGINT AS a FROM dp GROUP BY 1, 2),
      |x2 AS (SELECT dl.lang, cand.tok, coalesce(ac.a, 0)::BIGINT AS a,
      |         cand.d_t, dl.d_l, (SELECT n FROM nn) AS n
      |       FROM dl CROSS JOIN cand
      |       LEFT JOIN ac ON ac.lang = dl.lang AND ac.tok = cand.tok),
      |x3 AS (SELECT lang, tok, a, d_t,
      |         (n::HUGEINT
      |            * (a::HUGEINT * (n - d_l - d_t + a) - (d_l - a)::HUGEINT * (d_t - a))
      |            * (a::HUGEINT * (n - d_l - d_t + a) - (d_l - a)::HUGEINT * (d_t - a))
      |            * 1000000
      |          // (d_l::HUGEINT * (n - d_l) * d_t * (n - d_t)))::BIGINT
      |           AS chi2_ppm
      |       FROM x2)""".stripMargin

  private val chi2FlatCtes: String = chi2FlatCtesOf("documents")

  val q272_sql: String =
    s"""WITH $chi2FlatCtes
      |SELECT lang, rank, tok, chi2_ppm, a, d_t FROM (
      |  SELECT lang, tok, chi2_ppm, a, d_t,
      |         row_number() OVER (PARTITION BY lang
      |                            ORDER BY chi2_ppm DESC, tok ASC)::BIGINT AS rank
      |  FROM x3)
      |WHERE rank <= 8 ORDER BY lang, rank""".stripMargin

  // ---- q276: mutual-information feature ranking -------------------------

  /** Top-8 tokens per language by MUTUAL INFORMATION with language
    * membership — the other canonical feature-selection statistic (chi2
    * measures deviation-from-independence strength; MI measures the bits
    * of label information a token carries, which is what a
    * classifier-budget decision actually wants). Same [[contingency]]
    * grid; each of the four cells contributes c·(log2(n·c) −
    * log2(row·col)) in [[Ilog2]] fixed point (empty cells contribute 0,
    * the x·log x limit), summed and divided by n → MI in 2^16-scaled
    * bits. The truncation-noise floor is clamped at 0 before the
    * division so Spark's truncating `div` and DuckDB's flooring `//`
    * cannot disagree on a negative near-zero sum. */
  val q276_mi_features: Q = (s, d) => {
    def term(c: Column, row: Column, colm: Column): Column =
      when(c > 0, c * (il(col("n") * c) - il(row * colm))).otherwise(lit(0L))
    val withSum = contingency(s, d)
      .withColumn("mi_sum", greatest(lit(0L),
        term(col("a"), col("d_l"), col("d_t"))
          + term(col("d_l") - col("a"), col("d_l"), col("n") - col("d_t"))
          + term(col("d_t") - col("a"), col("n") - col("d_l"), col("d_t"))
          + term(col("n") - col("d_l") - col("d_t") + col("a"),
              col("n") - col("d_l"), col("n") - col("d_t"))))
      .withColumn("mi_fp", expr("mi_sum div n"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("mi_fp").desc, col("tok").asc)
    withSum.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 8)
      .select(col("lang"), col("rank").cast("long").as("rank"), col("tok"),
        col("mi_fp"), col("a"), col("d_t"))
      .orderBy(col("lang"), col("rank"))
  }

  val q276_sql: String = {
    def t(c: String, row: String, colm: String): String =
      s"""CASE WHEN $c > 0 THEN ($c) * (${Ilog2.sqlReplay(s"(n * ($c))")}
         | - ${Ilog2.sqlReplay(s"(($row) * ($colm))")}) ELSE 0 END""".stripMargin
    s"""WITH $chi2FlatCtes,
      |mi AS (SELECT lang, tok, a, d_t,
      |         (greatest(0, ${t("a", "d_l", "d_t")}
      |            + ${t("d_l - a", "d_l", "n - d_t")}
      |            + ${t("d_t - a", "n - d_l", "d_t")}
      |            + ${t("n - d_l - d_t + a", "n - d_l", "n - d_t")})
      |          // n)::BIGINT AS mi_fp
      |       FROM x2)
      |SELECT lang, rank, tok, mi_fp, a, d_t FROM (
      |  SELECT lang, tok, mi_fp, a, d_t,
      |         row_number() OVER (PARTITION BY lang
      |                            ORDER BY mi_fp DESC, tok ASC)::BIGINT AS rank
      |  FROM mi)
      |WHERE rank <= 8 ORDER BY lang, rank""".stripMargin
  }

  /** Union of each language's top-8 chi-square tokens: the selected
    * vocabulary V' (bounded by 8 x |langs|, broadcastable). */
  private def selectedVocabOf(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("chi2_ppm").desc, col("tok").asc)
    chi2TableOf(docs).withColumn("rank", row_number().over(w))
      .where(col("rank") <= 8).select(col("tok")).distinct()
  }

  private val vocabCte: String =
    """sel AS (SELECT DISTINCT tok FROM (
      |  SELECT lang, tok,
      |         row_number() OVER (PARTITION BY lang
      |                            ORDER BY chi2_ppm DESC, tok ASC) AS rank
      |  FROM x3) WHERE rank <= 8)""".stripMargin

  // ---- q273 / q274: Naive Bayes language classifier ---------------------

  /** Multinomial Naive Bayes TRAINING over the chi-square-selected
    * vocabulary: per (lang, token) Laplace log-likelihood
    * w = log2(c+1) − log2(T_l + |V'|) and per-lang log-prior, all in
    * [[Ilog2]] fixed point — the in-engine "train a cheap quality /
    * language classifier on the corpus itself" step (fastText-style
    * pipelines do exactly this shape; here the whole fit is two
    * vocabulary-bounded aggregates and the model is certified). Zero
    * counts are materialized via the langs x V' grid so the classifier
    * has a weight for every (lang, token) cell. */
  private def nbTrainOf(docs: DataFrame): DataFrame = {
    val vocab = selectedVocabOf(docs).localCheckpoint(true) // 3 consumers
    val vSize = vocab.agg(count(lit(1)).as("v_sel"))
    val occ = docTokensOf(docs).join(broadcast(vocab), Seq("tok"))
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c_occ"))
    val langs = docs.groupBy(col("lang")).agg(count(lit(1)).as("d_l"))
    val n = docs.agg(count(lit(1)).as("n"))
    val grid = broadcast(langs).crossJoin(broadcast(vocab))
      .join(occ, Seq("lang", "tok"), "left").na.fill(0L, Seq("c_occ"))
      .localCheckpoint(true) // consumers: t_lang agg + final weight rows
    val tl = grid.groupBy(col("lang")).agg(sum(col("c_occ")).as("t_lang"))
    grid.join(broadcast(tl), Seq("lang"))
      .crossJoin(broadcast(vSize)).crossJoin(broadcast(n))
      .select(col("lang"), col("tok"), col("c_occ"), col("t_lang"),
        col("v_sel"),
        (il(col("c_occ") + 1) - il(col("t_lang") + col("v_sel"))).as("w_fp"),
        (il(col("d_l")) - il(col("n"))).as("prior_fp"))
      .orderBy(col("lang"), col("tok"))
  }

  val q273_nb_train: Q = (s, d) => nbTrainOf(Tables.documents(s, d))

  /** Shared NB-model CTEs on top of the chi2 selection: occurrence
    * counts over V', per-lang totals, fixed-point weights and priors. */
  private[queries] def nbCtesOf(src: String): String =
    s"""${chi2FlatCtesOf(src)},
      |$vocabCte,
      |vs AS (SELECT count(*)::BIGINT AS v_sel FROM sel),
      |occ AS (SELECT lang, tok, count(*)::BIGINT AS c_occ
      |        FROM tk JOIN sel USING (tok) GROUP BY 1, 2),
      |grid AS (SELECT dl.lang, dl.d_l, sel.tok,
      |           coalesce(occ.c_occ, 0)::BIGINT AS c_occ
      |         FROM dl CROSS JOIN sel
      |         LEFT JOIN occ ON occ.lang = dl.lang AND occ.tok = sel.tok),
      |tl AS (SELECT lang, sum(c_occ)::BIGINT AS t_lang FROM grid GROUP BY 1),
      |model AS (SELECT g.lang, g.tok, g.c_occ, tl.t_lang,
      |            (SELECT v_sel FROM vs) AS v_sel,
      |            (${Ilog2.sqlReplay("(g.c_occ + 1)")}
      |             - ${Ilog2.sqlReplay("(tl.t_lang + (SELECT v_sel FROM vs))")})::BIGINT AS w_fp,
      |            (${Ilog2.sqlReplay("g.d_l")}
      |             - ${Ilog2.sqlReplay("(SELECT n FROM nn)")})::BIGINT AS prior_fp
      |          FROM grid g JOIN tl USING (lang))""".stripMargin

  private[queries] val nbCtes: String = nbCtesOf("documents")

  val q273_sql: String =
    s"""WITH $nbCtes
      |SELECT lang, tok, c_occ, t_lang, v_sel, w_fp, prior_fp
      |FROM model ORDER BY lang, tok""".stripMargin

  /** Naive Bayes CLASSIFICATION + confusion matrix: every document is
    * scored against every language (score = prior + Σ count·weight over
    * its selected-vocabulary tokens) and assigned the argmax (ties →
    * lexicographically smallest lang, via one map-side-combinable
    * min(struct(−score, lang)) aggregate — no window). Output is the
    * (true lang, predicted lang, n_docs) confusion matrix. The model is
    * broadcast, so at scale this is one explode + map-side joins + two
    * keyed aggregates over corpus rows. */
  /** Confusion matrix of `trainedModel` (a [[nbTrainOf]] frame) evaluated
    * over `docs` — q274 passes the full corpus for both; q282 trains on
    * the hash-split and evaluates held-out. */
  /** Per-document argmax predictions of `trainedModel` over `docs`:
    * (doc_id, lang, pred_lang). */
  private def predictionsOf(docs: DataFrame, trainedModel: DataFrame): DataFrame = {
    val model = trainedModel
      .select(col("lang").as("pred_lang"), col("tok"), col("w_fp"),
        col("prior_fp"))
      .localCheckpoint(true) // consumers: weight join + prior list + vocab
    val vocab = model.select(col("tok")).distinct() // = V', from the model
    val priors = model.select(col("pred_lang"), col("prior_fp")).distinct()
    val dt = docTokensOf(docs).join(broadcast(vocab), Seq("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("n_t"))
    val contrib = dt.join(broadcast(model), Seq("tok"))
      .groupBy(col("doc_id"), col("pred_lang"))
      .agg(sum(col("n_t") * col("w_fp")).as("tok_fp"))
    val scores = docs.select(col("doc_id"), col("lang"))
      .crossJoin(broadcast(priors)) // |docs| x |langs|: the score grid
      .join(contrib, Seq("doc_id", "pred_lang"), "left")
      .na.fill(0L, Seq("tok_fp"))
      .select(col("doc_id"), col("lang"),
        struct((-(col("prior_fp") + col("tok_fp"))).as("neg"),
          col("pred_lang").as("p")).as("cand"))
    scores.groupBy(col("doc_id"), col("lang"))
      .agg(min(col("cand")).as("best"))
      .select(col("doc_id"), col("lang"), col("best.p").as("pred_lang"))
  }

  private def confusionOf(docs: DataFrame, trainedModel: DataFrame): DataFrame =
    predictionsOf(docs, trainedModel)
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("pred_lang"))

  val q274_nb_confusion: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    confusionOf(docs, nbTrainOf(docs))
  }

  val q274_sql: String =
    s"""WITH $nbCtes,
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
      |                        AND contrib.pred_lang = pri.pred_lang),
      |best AS (SELECT doc_id, lang, pred_lang FROM sc
      |         QUALIFY row_number() OVER (PARTITION BY doc_id
      |                                    ORDER BY score DESC, pred_lang ASC) = 1)
      |SELECT lang, pred_lang, count(*)::BIGINT AS n_docs
      |FROM best GROUP BY 1, 2 ORDER BY lang, pred_lang""".stripMargin

  // ---- q282: held-out Naive Bayes evaluation ----------------------------

  /** HELD-OUT evaluation of the Naive Bayes classifier — the honest
    * version of q274's train-on-everything confusion matrix: feature
    * selection AND training run only on the 80% md5-hash doc split
    * ([[graft.llm.Sampling.hashBucket]], the q211 split), the confusion
    * matrix is computed on the 20% the model never saw. Same shapes as
    * q273/q274 with the corpus scan filtered by the pure per-row hash
    * predicate (no shuffle added; the split re-derives anywhere).
    * Output: (lang, pred_lang, n_docs) over held-out docs only. */
  val q282_nb_holdout: Q = (s, d) => {
    val hb = graft.llm.Sampling.hashBucket(col("doc_id"), 100)
    val docs = Tables.documents(s, d)
    val train = docs.where(hb < 80)
    val heldout = docs.where(hb >= 80)
    confusionOf(heldout, nbTrainOf(train))
  }

  val q282_sql: String = {
    val hb = "('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100"
    s"""WITH trdocs AS (SELECT * FROM documents WHERE $hb < 80),
      |tedocs AS (SELECT * FROM documents WHERE $hb >= 80),
      |${nbCtesOf("trdocs")},
      |pri AS (SELECT DISTINCT lang AS pred_lang, prior_fp FROM model),
      |tk2 AS (SELECT doc_id, lang,
      |          unnest(list_filter(string_split_regex(lower(text), '\\W+'),
      |                             x -> x <> '')) AS tok
      |        FROM tedocs),
      |dtc AS (SELECT doc_id, tok, count(*)::BIGINT AS n_t
      |        FROM tk2 JOIN sel USING (tok) GROUP BY 1, 2),
      |contrib AS (SELECT dtc.doc_id, m.lang AS pred_lang,
      |              sum(dtc.n_t * m.w_fp)::BIGINT AS tok_fp
      |            FROM dtc JOIN model m USING (tok) GROUP BY 1, 2),
      |sc AS (SELECT d.doc_id, d.lang, pri.pred_lang,
      |         (pri.prior_fp + coalesce(contrib.tok_fp, 0))::BIGINT AS score
      |       FROM tedocs d CROSS JOIN pri
      |       LEFT JOIN contrib ON contrib.doc_id = d.doc_id
      |                        AND contrib.pred_lang = pri.pred_lang),
      |best AS (SELECT doc_id, lang, pred_lang FROM sc
      |         QUALIFY row_number() OVER (PARTITION BY doc_id
      |                                    ORDER BY score DESC, pred_lang ASC) = 1)
      |SELECT lang, pred_lang, count(*)::BIGINT AS n_docs
      |FROM best GROUP BY 1, 2 ORDER BY lang, pred_lang""".stripMargin
  }

  // ---- q275: fixed-point bigram cross-entropy ---------------------------

  /** Per-document bigram cross-entropy under the corpus-wide Laplace
    * bigram LM, in 16-bit fixed-point bits/bigram — the log-domain
    * perplexity score (perplexity = 2^(avg_nll/65536)) that q132/q141's
    * rational fluency scores deliberately avoided. Every bigram costs
    * NLL = log2(c(u·)+V) − log2(c(u,v)+1) ≥ 0, summed per doc and
    * averaged by integral division. The [[Ilog2]] fold runs at MODEL
    * granularity (distinct corpus bigrams — vocabulary², content-bounded),
    * not per corpus row; documents join the model on (u,v) and aggregate.
    * Documents with fewer than two tokens have no bigrams and emit
    * nothing. */
  private def xentOf(docs: DataFrame): DataFrame = {
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val tk = docs.select(col("doc_id"),
      posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "u")))
    val bg = tk.withColumn("v", lead(col("u"), 1).over(byPos))
      .where(col("v").isNotNull)
      .select(col("doc_id"), col("u"), col("v"))
      .localCheckpoint(true) // consumers: cb, cu, per-doc join
    val cb = bg.groupBy(col("u"), col("v")).agg(count(lit(1)).as("cb"))
    val cu = bg.groupBy(col("u")).agg(count(lit(1)).as("cu"))
    val vsz = tk.select(col("u")).distinct().agg(count(lit(1)).as("vv"))
    val model = cb.join(cu, Seq("u")).crossJoin(broadcast(vsz))
      .select(col("u"), col("v"),
        (il(col("cu") + col("vv")) - il(col("cb") + 1)).as("nll_fp"))
    bg.join(model, Seq("u", "v"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll_fp")).as("nll_total_fp"))
      .select(col("doc_id"), col("n_bigrams"), col("nll_total_fp"),
        expr("nll_total_fp div n_bigrams").as("avg_nll_fp"))
  }

  val q275_bigram_xent: Q = (s, d) =>
    xentOf(Tables.documents(s, d)).orderBy(col("doc_id"))

  val q275_sql: String =
    s"""WITH tk0 AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\\W+'),
      |                x -> x <> '') AS ws
      |  FROM documents),
      |tk AS (SELECT doc_id, unnest(ws) AS u,
      |         unnest(range(1, len(ws) + 1)) AS pos FROM tk0),
      |bg AS (SELECT doc_id, u, v FROM (
      |         SELECT doc_id, u, lead(u, 1) OVER (PARTITION BY doc_id
      |                                            ORDER BY pos) AS v
      |         FROM tk) WHERE v IS NOT NULL),
      |cb AS (SELECT u, v, count(*)::BIGINT AS cb FROM bg GROUP BY 1, 2),
      |cu AS (SELECT u, count(*)::BIGINT AS cu FROM bg GROUP BY 1),
      |vv AS (SELECT count(DISTINCT u)::BIGINT AS vv FROM tk),
      |model AS (SELECT cb.u, cb.v,
      |            (${Ilog2.sqlReplay("(cu.cu + (SELECT vv FROM vv))")}
      |             - ${Ilog2.sqlReplay("(cb.cb + 1)")})::BIGINT AS nll_fp
      |          FROM cb JOIN cu USING (u))
      |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
      |       sum(nll_fp)::BIGINT AS nll_total_fp,
      |       (sum(nll_fp) // count(*))::BIGINT AS avg_nll_fp
      |FROM bg JOIN model USING (u, v)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- q283: curation v11 (info-theoretic release gate) -----------------

  /** CURATION v11 — the release-gate composition over the round-8
    * information-theoretic primitives, continuing the v1–v10 series:
    * per source, (1) mean bigram cross-entropy of its documents under
    * the corpus LM (q275's per-doc scores — high = the LM finds the
    * source surprising, the fluency axis), (2) the source's token
    * entropy (q271 — low = templated), and (3) the Naive Bayes
    * language-misclassification share (q274's per-doc argmax — high =
    * the source's language labels and content disagree). Admit requires
    * entropy ≥ 4.2 bits (275000 fp) and mean cross-entropy < 5.03 bits
    * (330000 fp). Documents with no bigrams are excluded from the mean
    * (counted in n_docs, not n_scored). One bounded manifest row per
    * source. */
  val q283_curation_v11: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .localCheckpoint(true) // consumers: xent chain + NB chain + entropy
    val perDoc = xentOf(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    val xent = perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_scored"),
        expr("sum(avg_nll_fp) div count(1)").as("mean_xent_fp"))
    val ent = {
      val c = docTokensOf(docs).groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("c"))
      c.groupBy(col("source"))
        .agg(sum(col("c")).as("n_tok"),
          sum(col("c") * il(col("c"))).as("s_fp"))
        .select(col("source"),
          (il(col("n_tok")) - expr("s_fp div n_tok")).as("entropy_fp"))
    }
    val mis = predictionsOf(docs, nbTrainOf(docs))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pred_lang") =!= col("lang"), 1L).otherwise(0L)).as("n_mis"))
      .withColumn("mis_ppm", expr("n_mis * 1000000 div n_docs"))
    mis.join(xent, Seq("source")).join(ent, Seq("source"))
      .withColumn("admit",
        col("entropy_fp") >= 275000L && col("mean_xent_fp") < 330000L)
      .select(col("source"), col("n_docs"), col("n_scored"),
        col("mean_xent_fp"), col("entropy_fp"), col("mis_ppm"), col("admit"))
      .orderBy(col("source"))
  }

  val q283_sql: String =
    s"""WITH ${nbCtesOf("documents")},
      |pri AS (SELECT DISTINCT lang AS pred_lang, prior_fp FROM model),
      |dtc AS (SELECT doc_id, tok, count(*)::BIGINT AS n_t
      |        FROM tk JOIN sel USING (tok) GROUP BY 1, 2),
      |contrib AS (SELECT dtc.doc_id, m.lang AS pred_lang,
      |              sum(dtc.n_t * m.w_fp)::BIGINT AS tok_fp
      |            FROM dtc JOIN model m USING (tok) GROUP BY 1, 2),
      |sc AS (SELECT d.doc_id, d.lang, d.source, pri.pred_lang,
      |         (pri.prior_fp + coalesce(contrib.tok_fp, 0))::BIGINT AS score
      |       FROM documents d CROSS JOIN pri
      |       LEFT JOIN contrib ON contrib.doc_id = d.doc_id
      |                        AND contrib.pred_lang = pri.pred_lang),
      |best AS (SELECT doc_id, lang, source, pred_lang FROM sc
      |         QUALIFY row_number() OVER (PARTITION BY doc_id
      |                                    ORDER BY score DESC, pred_lang ASC) = 1),
      |mis AS (SELECT source, count(*)::BIGINT AS n_docs,
      |          sum(CASE WHEN pred_lang <> lang THEN 1 ELSE 0 END)::BIGINT AS n_mis
      |        FROM best GROUP BY 1),
      |tkp0 AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\\W+'),
      |                x -> x <> '') AS ws
      |  FROM documents),
      |tkp AS (SELECT doc_id, unnest(ws) AS u,
      |          unnest(range(1, len(ws) + 1)) AS pos FROM tkp0),
      |bg AS (SELECT doc_id, u, v FROM (
      |         SELECT doc_id, u, lead(u, 1) OVER (PARTITION BY doc_id
      |                                            ORDER BY pos) AS v
      |         FROM tkp) WHERE v IS NOT NULL),
      |cb AS (SELECT u, v, count(*)::BIGINT AS cb FROM bg GROUP BY 1, 2),
      |cu AS (SELECT u, count(*)::BIGINT AS cu FROM bg GROUP BY 1),
      |vv AS (SELECT count(DISTINCT u)::BIGINT AS vv FROM tkp),
      |bmodel AS (SELECT cb.u, cb.v,
      |            (${Ilog2.sqlReplay("(cu.cu + (SELECT vv FROM vv))")}
      |             - ${Ilog2.sqlReplay("(cb.cb + 1)")})::BIGINT AS nll_fp
      |          FROM cb JOIN cu USING (u)),
      |pd AS (SELECT bg.doc_id,
      |         (sum(nll_fp) // count(*))::BIGINT AS avg_nll_fp
      |       FROM bg JOIN bmodel USING (u, v) GROUP BY 1),
      |xent AS (SELECT d.source, count(*)::BIGINT AS n_scored,
      |           (sum(pd.avg_nll_fp) // count(*))::BIGINT AS mean_xent_fp
      |         FROM pd JOIN documents d USING (doc_id) GROUP BY 1),
      |ec AS (SELECT source, tok, count(*)::BIGINT AS c FROM tk GROUP BY 1, 2),
      |ent AS (SELECT source,
      |          (${Ilog2.sqlReplay("(sum(c)::BIGINT)")}
      |           - sum(c * ${Ilog2.sqlReplay("c")})::BIGINT // sum(c)::BIGINT)::BIGINT
      |            AS entropy_fp
      |        FROM ec GROUP BY source)
      |SELECT mis.source, mis.n_docs, xent.n_scored, xent.mean_xent_fp,
      |       ent.entropy_fp,
      |       (mis.n_mis * 1000000 // mis.n_docs)::BIGINT AS mis_ppm,
      |       (ent.entropy_fp >= 275000 AND xent.mean_xent_fp < 330000) AS admit
      |FROM mis JOIN xent USING (source) JOIN ent USING (source)
      |ORDER BY source""".stripMargin

  // ---- q285: Jensen–Shannon composition drift ---------------------------

  /** Per-source JENSEN–SHANNON divergence between the source's language
    * composition and the corpus-wide one, in [[Ilog2]] fixed-point bits —
    * the information-theoretic completion of q184's TVD/chi-square drift
    * battery (JSD is the symmetric, bounded-by-1-bit divergence that
    * release dashboards actually plot). Integer-only via the counts
    * rewrite: with a = in-source lang docs (total A) and b = corpus lang
    * docs (total B), KL(P‖M) = Σ (a/A)·(log2(2aB) − log2(aB + bA)), so
    * both KL arms are Σ count·Δil clamped at 0 (truncation noise) and
    * integrally divided — no rationals ever materialize. Zero cells:
    * a = 0 contributes nothing to the P arm and keeps the M mixture
    * strictly positive in the Q arm. Grid is |sources| × |langs|,
    * bounded. */
  val q285_jsd_drift: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val sl = docs.groupBy(col("source"), col("lang")).agg(count(lit(1)).as("a"))
    val lg = docs.groupBy(col("lang")).agg(count(lit(1)).as("b"))
    val sd = docs.groupBy(col("source")).agg(count(lit(1)).as("aa"))
    val n = docs.agg(count(lit(1)).as("bb"))
    val grid = broadcast(sd).crossJoin(broadcast(lg))
      .join(sl, Seq("source", "lang"), "left").na.fill(0L, Seq("a"))
      .crossJoin(broadcast(n))
    val mix = col("a") * col("bb") + col("b") * col("aa") // aB + bA > 0
    val t1 = when(col("a") > 0,
      col("a") * (il(lit(2) * col("a") * col("bb")) - il(mix))).otherwise(lit(0L))
    val t2 = col("b") * (il(lit(2) * col("b") * col("aa")) - il(mix))
    grid.groupBy(col("source"))
      .agg(max(col("aa")).as("n_docs"), max(col("bb")).as("n_total"),
        sum(t1).as("s1"), sum(t2).as("s2"))
      .select(col("source"), col("n_docs"),
        expr("(greatest(0L, s1) div n_docs + greatest(0L, s2) div n_total) div 2")
          .as("jsd_fp"))
      .orderBy(col("source"))
  }

  val q285_sql: String = {
    val il = Ilog2.sqlReplay _
    s"""WITH sl AS (SELECT source, lang, count(*)::BIGINT AS a
      |            FROM documents GROUP BY 1, 2),
      |lg AS (SELECT lang, count(*)::BIGINT AS b FROM documents GROUP BY 1),
      |sd AS (SELECT source, count(*)::BIGINT AS aa FROM documents GROUP BY 1),
      |nn AS (SELECT count(*)::BIGINT AS bb FROM documents),
      |grid AS (SELECT sd.source, sd.aa, lg.lang, lg.b,
      |           coalesce(sl.a, 0)::BIGINT AS a, (SELECT bb FROM nn) AS bb
      |         FROM sd CROSS JOIN lg
      |         LEFT JOIN sl ON sl.source = sd.source AND sl.lang = lg.lang),
      |t AS (SELECT source, max(aa) AS n_docs, max(bb) AS n_total,
      |        sum(CASE WHEN a > 0
      |              THEN a * (${il("(2 * a * bb)")} - ${il("(a * bb + b * aa)")})
      |              ELSE 0 END)::BIGINT AS s1,
      |        sum(b * (${il("(2 * b * aa)")} - ${il("(a * bb + b * aa)")}))::BIGINT AS s2
      |      FROM grid GROUP BY 1)
      |SELECT source, n_docs::BIGINT AS n_docs,
      |       ((greatest(0, s1) // n_docs + greatest(0, s2) // n_total) // 2)::BIGINT
      |         AS jsd_fp
      |FROM t ORDER BY source""".stripMargin
  }

  /** Bounded driver collect of the trained NB model — |V'| x |langs|
    * rows (8 x |langs| tokens by construction), the same gate-config
    * collect budget as q173's vocabulary. Returns (langs sorted asc,
    * aligned priors, token -> per-lang weights aligned to langs) for
    * literal inlining into a stateless streaming classifier. */
  private[queries] def nbModelLiteral(s: SparkSession, d: String)
      : (Seq[String], Seq[Long], Map[String, Seq[Long]]) = {
    val rows = graft.io.Bounded.collect(q273_nb_train(s, d)
      .select(col("lang"), col("tok"), col("w_fp"), col("prior_fp")),
      maxRows = 1024,
      why = "the trained NB grid is |V'| x |langs| = 8 x |langs| tokens" +
        " by construction")
    val langs = rows.map(_.getString(0)).distinct.sorted.toSeq
    val priors = langs.map(l =>
      rows.find(_.getString(0) == l).get.getLong(3))
    val weights = rows.groupBy(_.getString(1)).map { case (tok, rs) =>
      // the langs x V' grid guarantees every (lang, tok) cell exists
      tok -> langs.map(l => rs.find(_.getString(0) == l).get.getLong(2))
    }
    (langs, priors, weights.toMap)
  }

  /** NDCG@10 RETRIEVAL-QUALITY AUDIT — the ranking-evaluation metric
    * closing the retrieval loop: q110's rational-arithmetic BM25 top-10
    * is scored against graded relevance (rel = number of DISTINCT query
    * terms present, 0–4 — integral and SQL-derivable, no human labels),
    * with the DCG discount 1/log2(i+1) rewritten through [[Ilog2]]:
    * contribution = rel·65536·10⁶ div il(pos+1), so DCG, ideal DCG, and
    * ndcg_ppm = DCG·10⁶ div IDCG are pure 64-bit integers the oracle
    * replays exactly. Both rankings are distributed TakeOrdered top-10s
    * (window row_number only over the 10 survivors — no global sort);
    * the relevance frame is bounded by docs containing a query term. */
  val q289_ndcg: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val terms = LlmQueries.Bm25Terms
    val k = 10
    val rel = docs.select(col("doc_id"),
        explode(split(lower(col("text")), "\\W+")).as("term"))
      .where(col("term") =!= "" && col("term").isin(terms: _*))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("term")).as("rel"))
    val gain = expr("(rel * 65536000000) div ilp")
    val ranked = TextAnalysis.bm25TopK(docs, terms, k)
      .withColumn("pos", row_number()
        .over(Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
    val dcg = ranked.join(rel, Seq("doc_id"))
      .withColumn("ilp", il(col("pos") + lit(1L)))
      .agg(count(lit(1)).as("n_ranked"), sum(gain).as("dcg_fp"))
    val ideal = rel.orderBy(col("rel").desc, col("doc_id")).limit(k)
      .withColumn("pos", row_number()
        .over(Window.orderBy(col("rel").desc, col("doc_id"))).cast("long"))
      .withColumn("ilp", il(col("pos") + lit(1L)))
      .agg(sum(gain).as("idcg_fp"))
    dcg.crossJoin(broadcast(ideal))
      .select(col("n_ranked"), col("dcg_fp"), col("idcg_fp"),
        expr("(dcg_fp * 1000000) div idcg_fp").as("ndcg_ppm"))
  }

  val q289_sql: String = {
    val terms = LlmQueries.Bm25Terms
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val pivotSum = terms
      .map(t => s"coalesce(max(CASE WHEN term = '$t' THEN score END), 0.0)")
      .mkString(" + ")
    val ilp = Ilog2.sqlReplay("(pos + 1)")
    s"""WITH toks AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')) AS term FROM documents),
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term IN ($inList) GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |stats AS (SELECT (SELECT count(*) FROM documents) AS n,
       |                 (SELECT CAST(sum(dl) AS BIGINT) FROM dl) AS t),
       |scored AS (SELECT tf.doc_id, tf.term,
       |                  CAST(((s.n * 1000000) // df.df) * (22 * s.t * tf.tf) AS DOUBLE) /
       |                  CAST(10 * s.t * tf.tf + 3 * s.t + 9 * dl.dl * s.n AS DOUBLE) AS score
       |           FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s),
       |piv AS (SELECT doc_id, $pivotSum AS bm25 FROM scored GROUP BY doc_id),
       |ranked AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS pos
       |           FROM (SELECT doc_id, bm25 FROM piv ORDER BY bm25 DESC, doc_id LIMIT 10)),
       |rel AS (SELECT doc_id, count(DISTINCT term)::BIGINT AS rel FROM tf GROUP BY 1),
       |dcg AS (SELECT count(*)::BIGINT AS n_ranked,
       |               sum((rel * 65536000000) // $ilp)::BIGINT AS dcg_fp
       |        FROM ranked JOIN rel USING (doc_id)),
       |ideal AS (SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS pos
       |          FROM (SELECT doc_id, rel FROM rel ORDER BY rel DESC, doc_id LIMIT 10)),
       |idcg AS (SELECT sum((rel * 65536000000) // $ilp)::BIGINT AS idcg_fp FROM ideal)
       |SELECT n_ranked, dcg_fp, idcg_fp,
       |       ((dcg_fp * 1000000) // idcg_fp)::BIGINT AS ndcg_ppm
       |FROM dcg, idcg""".stripMargin
  }

  /** RETRIEVAL METRICS SUITE — the binary-relevance companions to q289's
    * graded NDCG, over the same BM25 top-10 frame: reciprocal rank of the
    * first relevant hit (MRR's single-query form), precision@10, and
    * recall@10, all integral ppm. Relevance is binary: a doc is relevant
    * iff it contains ≥ 3 of the 4 query terms (SQL-derivable, no labels).
    * Shapes: one distributed TakeOrdered top-10 (row_number only over the
    * 10 survivors), the relevance frame is term-filtered and bounded by
    * docs containing a query term, and the two 1-row aggregates meet in a
    * bounded crossJoin. */
  val q291_retrieval_metrics: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val terms = LlmQueries.Bm25Terms
    val rel = docs.select(col("doc_id"),
        explode(split(lower(col("text")), "\\W+")).as("term"))
      .where(col("term") =!= "" && col("term").isin(terms: _*))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("term")).as("nterm"))
      .where(col("nterm") >= 3)
      .select(col("doc_id"))
      .localCheckpoint(true) // consumers: top-k hit join + total count
    val ranked = TextAnalysis.bm25TopK(docs, terms, 10)
      .withColumn("pos", row_number()
        .over(Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
    val hits = ranked.join(rel, Seq("doc_id"))
      .agg(count(lit(1)).as("n_rel_topk"), min(col("pos")).as("first_rel_pos"))
    val tot = rel.agg(count(lit(1)).as("n_rel_total"))
    hits.crossJoin(broadcast(tot)) // 1x1
      .select(col("first_rel_pos"),
        expr("1000000 div first_rel_pos").as("rr_ppm"),
        col("n_rel_topk"),
        (col("n_rel_topk") * lit(100000L)).as("p_at_10_ppm"),
        col("n_rel_total"),
        expr("n_rel_topk * 1000000 div n_rel_total").as("recall_at_10_ppm"))
  }

  val q291_sql: String = {
    val terms = LlmQueries.Bm25Terms
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val pivotSum = terms
      .map(t => s"coalesce(max(CASE WHEN term = '$t' THEN score END), 0.0)")
      .mkString(" + ")
    s"""WITH toks AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')) AS term FROM documents),
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term IN ($inList) GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |stats AS (SELECT (SELECT count(*) FROM documents) AS n,
       |                 (SELECT CAST(sum(dl) AS BIGINT) FROM dl) AS t),
       |scored AS (SELECT tf.doc_id, tf.term,
       |                  CAST(((s.n * 1000000) // df.df) * (22 * s.t * tf.tf) AS DOUBLE) /
       |                  CAST(10 * s.t * tf.tf + 3 * s.t + 9 * dl.dl * s.n AS DOUBLE) AS score
       |           FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s),
       |piv AS (SELECT doc_id, $pivotSum AS bm25 FROM scored GROUP BY doc_id),
       |ranked AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS pos
       |           FROM (SELECT doc_id, bm25 FROM piv ORDER BY bm25 DESC, doc_id LIMIT 10)),
       |rel AS (SELECT doc_id FROM (
       |          SELECT doc_id, count(DISTINCT term) AS nt FROM tf GROUP BY 1)
       |        WHERE nt >= 3),
       |h AS (SELECT count(*)::BIGINT AS n_rel_topk, min(pos)::BIGINT AS first_rel_pos
       |      FROM ranked JOIN rel USING (doc_id)),
       |t AS (SELECT count(*)::BIGINT AS n_rel_total FROM rel)
       |SELECT first_rel_pos, (1000000 // first_rel_pos)::BIGINT AS rr_ppm,
       |       n_rel_topk, (n_rel_topk * 100000)::BIGINT AS p_at_10_ppm,
       |       n_rel_total,
       |       (n_rel_topk * 1000000 // n_rel_total)::BIGINT AS recall_at_10_ppm
       |FROM h, t""".stripMargin
  }

  /** SPEARMAN RANK CORRELATION between two per-source signals — unigram
    * entropy (q271's certified fixed-point bits/token) and integral mean
    * document length: "do verbose sources carry diverse vocabulary?", the
    * one-number sanity check relating the two quality dashboards. Exact
    * by construction: ranks are integers from deterministic (metric desc,
    * source) orderings, means are integral `div`, and
    * ρ_ppm = 10⁶ − 6·10⁶·Σd² div n(n²−1) is pure BIGINT. The global
    * row_number windows run over the ALREADY-REDUCED |sources| frame
    * (20 rows at every SF) — the documented reduced-frame exception to
    * the no-global-window rule. */
  val q293_rank_correlation: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val c = docs.select(col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
    val ent = c.groupBy(col("source"))
      .agg(sum(col("c")).as("n_tok"),
        sum(col("c") * il(col("c"))).as("s_fp"))
      .select(col("source"),
        (il(col("n_tok")) - expr("s_fp div n_tok")).as("entropy_fp"))
    val len = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("nd"), sum(col("n_chars")).as("sc"))
      .select(col("source"), expr("sc div nd").as("mean_chars"))
    val ranked = ent.join(len, Seq("source"))
      .withColumn("r_e", row_number()
        .over(Window.orderBy(col("entropy_fp").desc, col("source"))).cast("long"))
      .withColumn("r_l", row_number()
        .over(Window.orderBy(col("mean_chars").desc, col("source"))).cast("long"))
    ranked.agg(count(lit(1)).as("n_sources"),
        sum((col("r_e") - col("r_l")) * (col("r_e") - col("r_l"))).as("sum_d2"))
      .select(col("n_sources"), col("sum_d2"),
        expr("1000000 - (6000000 * sum_d2) div (n_sources * (n_sources * n_sources - 1))")
          .as("rho_ppm"))
  }

  val q293_sql: String =
    s"""WITH $tokCte,
      |c AS (SELECT source, tok, count(*)::BIGINT AS c FROM tk GROUP BY 1, 2),
      |e AS (SELECT source, sum(c)::BIGINT AS n_tok,
      |        sum(c * ${Ilog2.sqlReplay("c")})::BIGINT AS s_fp
      |      FROM c GROUP BY 1),
      |ent AS (SELECT source,
      |          (${Ilog2.sqlReplay("n_tok")} - s_fp // n_tok)::BIGINT AS entropy_fp
      |        FROM e),
      |l AS (SELECT source,
      |        (sum(n_chars) // count(*))::BIGINT AS mean_chars
      |      FROM documents GROUP BY 1),
      |r AS (SELECT ent.source,
      |        row_number() OVER (ORDER BY entropy_fp DESC, ent.source) AS r_e,
      |        row_number() OVER (ORDER BY mean_chars DESC, ent.source) AS r_l
      |      FROM ent JOIN l ON l.source = ent.source)
      |SELECT count(*)::BIGINT AS n_sources,
      |       sum((r_e - r_l) * (r_e - r_l))::BIGINT AS sum_d2,
      |       (1000000 - (6000000 * sum((r_e - r_l) * (r_e - r_l)))
      |          // (count(*) * (count(*) * count(*) - 1)))::BIGINT AS rho_ppm
      |FROM r""".stripMargin

  /** PMI COLLOCATIONS — top-20 adjacent-token pairs by pointwise mutual
    * information over the corpus bigram distribution, the phrase-mining
    * primitive (tokenizer vocab candidates, multi-word entity seeds).
    * PMI = log2(c_xy·B / (c_x·c_y)) with B = total bigrams, c_x / c_y
    * the left/right marginals — both [[Ilog2]] folds, so the score is
    * certified fixed-point bits and the oracle replays it exactly.
    * c_xy ≥ 5 floors collision noise. Shapes: one bigram pass (the q275
    * lead-window sort class), three vocabulary-bounded aggregates, keyed
    * marginal joins, broadcast 1-row total, TakeOrdered top-20 — no
    * global sort. c_xy·B stays in BIGINT below ~3·10⁹ bigrams; past
    * that, widen to DECIMAL(38,0) like q226/q238. */
  val q296_pmi_collocations: Q = (s, d) => {
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val tk = Tables.documents(s, d).select(col("doc_id"),
      posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "u")))
    val bg = tk.withColumn("v", lead(col("u"), 1).over(byPos))
      .where(col("v").isNotNull)
      .select(col("u"), col("v"))
      .localCheckpoint(true) // consumers: pair counts + two marginals + total
    val cb = bg.groupBy(col("u"), col("v")).agg(count(lit(1)).as("c_xy"))
      .where(col("c_xy") >= 5)
    val cu = bg.groupBy(col("u")).agg(count(lit(1)).as("c_x"))
    val cv = bg.groupBy(col("v")).agg(count(lit(1)).as("c_y"))
    val tot = bg.agg(count(lit(1)).as("bb"))
    cb.join(cu, Seq("u")).join(cv, Seq("v")).crossJoin(broadcast(tot))
      .select(col("u"), col("v"), col("c_xy"), col("c_x"), col("c_y"),
        (il(col("c_xy") * col("bb")) - il(col("c_x") * col("c_y"))).as("pmi_fp"))
      .orderBy(col("pmi_fp").desc, col("u"), col("v"))
      .limit(20)
  }

  val q296_sql: String =
    s"""WITH tk0 AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\\W+'),
      |                x -> x <> '') AS ws
      |  FROM documents),
      |tk AS (SELECT doc_id, unnest(ws) AS u,
      |         unnest(range(1, len(ws) + 1)) AS pos FROM tk0),
      |bg AS (SELECT u, v FROM (
      |         SELECT u, lead(u, 1) OVER (PARTITION BY doc_id
      |                                    ORDER BY pos) AS v
      |         FROM tk) WHERE v IS NOT NULL),
      |cb AS (SELECT u, v, count(*)::BIGINT AS c_xy FROM bg
      |       GROUP BY 1, 2 HAVING count(*) >= 5),
      |cu AS (SELECT u, count(*)::BIGINT AS c_x FROM bg GROUP BY 1),
      |cv AS (SELECT v, count(*)::BIGINT AS c_y FROM bg GROUP BY 1),
      |tt AS (SELECT count(*)::BIGINT AS bb FROM bg)
      |SELECT cb.u, cb.v, c_xy, c_x, c_y,
      |       (${Ilog2.sqlReplay("(c_xy * bb)")}
      |        - ${Ilog2.sqlReplay("(c_x * c_y)")})::BIGINT AS pmi_fp
      |FROM cb JOIN cu USING (u) JOIN cv USING (v) CROSS JOIN tt
      |ORDER BY pmi_fp DESC, u, v LIMIT 20""".stripMargin

  /** Exact two-sample KOLMOGOROV–SMIRNOV drift statistic between the
    * `click` and `view` event-value distributions — completes the drift
    * trio (q223 chi² for categorical, q285 JSD for token distributions,
    * KS for CONTINUOUS metrics). Integer-exact throughout: with per-value
    * cumulative counts cumA/cumB and totals nA/nB, the classic
    * D = max |cumA/nA − cumB/nB| is kept as the cross-multiplied BIGINT
    * numerator max |cumA·nB − cumB·nA| (one exact `div` at the end for
    * ppm), so no float CDF ever forms. Ties in the max break toward the
    * larger value via a struct-max (= the oracle's ORDER BY DESC LIMIT 1).
    * Scale shapes: one event scan → per-distinct-value counts; cumulative
    * counts via the range-partitioned prefix sum (constant group, hint 1)
    * — no global window over the value domain; the final max is one
    * map-side-combined aggregate. cum·total stays in BIGINT below ~3·10⁹
    * events per side; past that, widen to DECIMAL(38,0) like q226/q238. */
  val q298_ks_drift: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .where(col("event_type").isin("click", "view"))
      .select(col("value"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("ia"),
        when(col("event_type") === "view", 1L).otherwise(0L).as("ib"))
    val pv = ev.groupBy(col("value"))
      .agg(sum(col("ia")).as("na"), sum(col("ib")).as("nb"))
      .withColumn("g", lit(0))
      .localCheckpoint(true) // consumers: two prefix-sum passes + totals
    val ca = graft.operators.RunningTotal.grouped(pv, "g", Seq("value"),
      "na", "cum_a", groupCountHint = Some(1L))
    val cb = graft.operators.RunningTotal.grouped(ca, "g", Seq("value"),
      "nb", "cum_b", groupCountHint = Some(1L))
    val tot = pv.agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
    cb.crossJoin(broadcast(tot)) // x 1 row
      .select(col("value"),
        abs(col("cum_a") * col("tb") - col("cum_b") * col("ta")).as("dnum"),
        col("ta"), col("tb"))
      .agg(max(struct(col("dnum"), col("value"))).as("m"),
        max(col("ta")).as("n_a"), max(col("tb")).as("n_b"))
      .select(col("m.dnum").as("ks_num"), col("m.value").as("at_value"),
        col("n_a"), col("n_b"))
      .withColumn("ks_ppm", expr("ks_num * 1000000 div (n_a * n_b)"))
  }

  val q298_sql: String =
    """WITH ev AS (SELECT value,
      |        CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia,
      |        CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ib
      |      FROM events WHERE event_type IN ('click', 'view')),
      |pv AS (SELECT value, sum(ia)::BIGINT AS na, sum(ib)::BIGINT AS nb
      |       FROM ev GROUP BY 1),
      |cm AS (SELECT value,
      |        sum(na) OVER (ORDER BY value) AS cum_a,
      |        sum(nb) OVER (ORDER BY value) AS cum_b FROM pv),
      |tt AS (SELECT sum(na)::BIGINT AS ta, sum(nb)::BIGINT AS tb FROM pv),
      |dd AS (SELECT value, abs(cum_a * tb - cum_b * ta)::BIGINT AS dnum
      |       FROM cm CROSS JOIN tt),
      |sel AS (SELECT dnum, value FROM dd ORDER BY dnum DESC, value DESC
      |        LIMIT 1)
      |SELECT sel.dnum AS ks_num, sel.value AS at_value,
      |       tt.ta AS n_a, tt.tb AS n_b,
      |       (sel.dnum * 1000000 // (tt.ta * tt.tb))::BIGINT AS ks_ppm
      |FROM sel CROSS JOIN tt""".stripMargin

  /** RECIPROCAL-RANK FUSION (Cormack/Clarke/Buettcher 2009) of two
    * retrieval rankers over the q110 query — BM25 (rational-arithmetic
    * scores) and a pure-BIGINT tf·idf ranker using the same fixed-point
    * idf. rrf(d) = Σ_r 10⁹ div (60 + rank_r(d)) in exact integer
    * arithmetic over the two top-20 lists full-outer-joined (a doc absent
    * from one ranker contributes only the other's term — standard RRF).
    * The hybrid-retrieval primitive: at 100 TB this is how a lexical and
    * a dense ranker merge without score calibration. Scale shapes: both
    * rankers end in TakeOrdered top-k; the rank row_numbers run over the
    * ALREADY-REDUCED k-row frames (the documented reduced-frame window
    * license); the fusion join is k-row × k-row. */
  val q299_rrf_fusion: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val terms = LlmQueries.Bm25Terms
    val k = 20
    val bm = TextAnalysis.bm25TopK(docs, terms, k)
      .select(col("doc_id"),
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id")))
          .cast("long").as("r_bm25"))
    val tf = docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("term"))
      .where(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(true) // consumers: df counts + scoring join
    val dfs = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val ti = tf.join(broadcast(dfs), Seq("term")).crossJoin(broadcast(n))
      .groupBy(col("doc_id"))
      .agg(sum(expr("tf * ((n * 1000000) div df)")).as("s2"))
      .orderBy(col("s2").desc, col("doc_id")).limit(k)
      .select(col("doc_id"),
        row_number().over(Window.orderBy(col("s2").desc, col("doc_id")))
          .cast("long").as("r_tfidf"))
    bm.join(ti, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("r_bm25"), col("r_tfidf"),
        (coalesce(expr("1000000000 div (60 + r_bm25)"), lit(0L)) +
          coalesce(expr("1000000000 div (60 + r_tfidf)"), lit(0L)))
          .as("rrf_fp"))
      .orderBy(col("rrf_fp").desc, col("doc_id"))
      .limit(15)
  }

  val q299_sql: String = {
    val terms = LlmQueries.Bm25Terms
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val pivotSum = terms
      .map(t => s"coalesce(max(CASE WHEN term = '$t' THEN score END), 0.0)")
      .mkString(" + ")
    s"""WITH toks AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')) AS term FROM documents),
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term IN ($inList) GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |stats AS (SELECT (SELECT count(*) FROM documents) AS n,
       |                 (SELECT CAST(sum(dl) AS BIGINT) FROM dl) AS t),
       |scored AS (SELECT tf.doc_id, tf.term,
       |                  CAST(((s.n * 1000000) // df.df) * (22 * s.t * tf.tf) AS DOUBLE) /
       |                  CAST(10 * s.t * tf.tf + 3 * s.t + 9 * dl.dl * s.n AS DOUBLE) AS score
       |           FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s),
       |piv AS (SELECT doc_id, $pivotSum AS bm25 FROM scored GROUP BY doc_id),
       |bmk AS (SELECT doc_id, bm25 FROM piv ORDER BY bm25 DESC, doc_id LIMIT 20),
       |r1 AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_bm25 FROM bmk),
       |s2 AS (SELECT tf.doc_id,
       |              CAST(sum(tf.tf * ((s.n * 1000000) // df.df)) AS BIGINT) AS s2
       |       FROM tf JOIN df USING (term) CROSS JOIN stats s GROUP BY tf.doc_id),
       |tk2 AS (SELECT doc_id, s2 FROM s2 ORDER BY s2 DESC, doc_id LIMIT 20),
       |r2 AS (SELECT doc_id, row_number() OVER (ORDER BY s2 DESC, doc_id) AS r_tfidf FROM tk2),
       |f AS (SELECT coalesce(r1.doc_id, r2.doc_id) AS doc_id,
       |             r_bm25::BIGINT AS r_bm25, r_tfidf::BIGINT AS r_tfidf,
       |             (coalesce(1000000000 // (60 + r_bm25), 0) +
       |              coalesce(1000000000 // (60 + r_tfidf), 0))::BIGINT AS rrf_fp
       |      FROM r1 FULL JOIN r2 ON r1.doc_id = r2.doc_id)
       |SELECT doc_id, r_bm25, r_tfidf, rrf_fp
       |FROM f ORDER BY rrf_fp DESC, doc_id LIMIT 15""".stripMargin
  }

  /** FELLEGI–SUNTER record-linkage weight estimation (Fellegi & Sunter
    * 1969) — the probabilistic-matching layer classical MDM runs on top
    * of blocking: for each comparison field (lang, source, length bucket,
    * first word), estimate m = P(agree | match) and u = P(agree |
    * non-match) over the LSH candidate pairs, self-supervised by exact
    * Jaccard (≥ 0.5 ⇒ match) — the candidate generator proposes, the
    * expensive verifier labels, and the field weights w = log₂ m − log₂ u
    * come out in [[Ilog2]] fixed point, so the oracle replays them
    * EXACTLY. Laplace (+1/+2) smoothing keeps both probabilities off the
    * boundary. Scale shapes: pairs come from the staged banded-LSH
    * pipeline (never all-pairs); agreements are row-local after two
    * field attaches; the stacked (field, label) aggregate is 8 rows.
    * m_ppm/u_ppm stay ≥ 1 below ~10⁶ labeled pairs per class; past
    * that, raise the ppm scale before the log. */
  val q302_fs_linkage: Q = (s, d) => {
    val shingled = DocLsh.shingles(s, d)
    val pairs = DocLsh.pairs(s, d)
    val sizes = shingled.groupBy(col("doc_id")).agg(count(lit(1)).as("set_size"))
    val inter = pairs
      .join(shingled.select(col("doc_id").as("doc_a"), col("shingle")), Seq("doc_a"))
      .join(shingled.select(col("doc_id").as("doc_b"), col("shingle")),
        Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_inter"))
    val fld = Tables.documents(s, d).select(col("doc_id"), col("lang"),
      col("source"), least(expr("n_chars div 300"), lit(4L)).as("buk"),
      element_at(TextAnalysis.tokens(col("text")), 1).as("fw"))
    val jac = pairs
      .join(inter, Seq("doc_a", "doc_b"), "left") // zero-overlap candidates stay
      .join(sizes.select(col("doc_id").as("doc_a"), col("set_size").as("sa")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("set_size").as("sb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("coalesce(n_inter, 0L) * 1000000 div (sa + sb - coalesce(n_inter, 0L))")
          .as("jac_ppm"))
    val ag = jac
      .join(fld.select(col("doc_id").as("doc_a"), col("lang").as("lang_a"),
        col("source").as("src_a"), col("buk").as("buk_a"), col("fw").as("fw_a")),
        Seq("doc_a"))
      .join(fld.select(col("doc_id").as("doc_b"), col("lang").as("lang_b"),
        col("source").as("src_b"), col("buk").as("buk_b"), col("fw").as("fw_b")),
        Seq("doc_b"))
      .select((col("jac_ppm") >= 500000L).as("is_match"),
        (col("lang_a") === col("lang_b")).cast("long").as("ag_lang"),
        (col("src_a") === col("src_b")).cast("long").as("ag_source"),
        (col("buk_a") === col("buk_b")).cast("long").as("ag_bucket"),
        (col("fw_a") <=> col("fw_b")).cast("long").as("ag_fw"))
    val st = ag.select(explode(array(
        struct(lit("bucket").as("field"), col("ag_bucket").as("agree"), col("is_match")),
        struct(lit("first_word").as("field"), col("ag_fw").as("agree"), col("is_match")),
        struct(lit("lang").as("field"), col("ag_lang").as("agree"), col("is_match")),
        struct(lit("source").as("field"), col("ag_source").as("agree"), col("is_match"))))
        .as("r"))
      .select(col("r.field").as("field"), col("r.agree").as("agree"),
        col("r.is_match").as("is_match"))
    st.groupBy(col("field"))
      .agg(sum(when(col("is_match"), 1L).otherwise(0L)).as("n_m"),
        sum(when(col("is_match"), col("agree")).otherwise(0L)).as("agree_m"),
        sum(when(!col("is_match"), 1L).otherwise(0L)).as("n_u"),
        sum(when(!col("is_match"), col("agree")).otherwise(0L)).as("agree_u"))
      .select(col("field"), col("n_m"), col("agree_m"), col("n_u"), col("agree_u"),
        expr("(agree_m + 1) * 1000000 div (n_m + 2)").as("m_ppm"),
        expr("(agree_u + 1) * 1000000 div (n_u + 2)").as("u_ppm"))
      .withColumn("w_fp", il(col("m_ppm")) - il(col("u_ppm")))
      .orderBy(col("field"))
  }

  val q302_sql: String =
    s"""WITH ${LlmQueries.lshCtes(LlmQueries.LshK, LlmQueries.LshBands)},
       |sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
       |inter AS (SELECT p.doc_a, p.doc_b, count(*) AS n_inter
       |          FROM pairs p
       |          JOIN sh a ON a.doc_id = p.doc_a
       |          JOIN sh b ON b.doc_id = p.doc_b AND a.shingle = b.shingle
       |          GROUP BY 1, 2),
       |jac AS (SELECT p.doc_a, p.doc_b,
       |          coalesce(i.n_inter, 0) * 1000000
       |            // (sa.set_size + sb.set_size - coalesce(i.n_inter, 0)) AS jac_ppm
       |        FROM pairs p
       |        LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
       |        JOIN sizes sa ON sa.doc_id = p.doc_a
       |        JOIN sizes sb ON sb.doc_id = p.doc_b),
       |fld AS (SELECT doc_id, lang, source, least(n_chars // 300, 4) AS buk,
       |          CASE WHEN len(ws) > 0 THEN ws[1] END AS fw FROM (
       |            SELECT doc_id, lang, source, n_chars,
       |                   list_filter(string_split_regex(lower(text), '\\W+'),
       |                               x -> x <> '') AS ws
       |            FROM documents)),
       |ag AS (SELECT (jac_ppm >= 500000) AS is_match,
       |          (a.lang = b.lang)::INT AS ag_lang,
       |          (a.source = b.source)::INT AS ag_source,
       |          (a.buk = b.buk)::INT AS ag_bucket,
       |          (a.fw IS NOT DISTINCT FROM b.fw)::INT AS ag_fw
       |       FROM jac j JOIN fld a ON a.doc_id = j.doc_a
       |                  JOIN fld b ON b.doc_id = j.doc_b),
       |st AS (SELECT 'bucket' AS field, is_match, ag_bucket AS agree FROM ag
       |       UNION ALL SELECT 'first_word', is_match, ag_fw FROM ag
       |       UNION ALL SELECT 'lang', is_match, ag_lang FROM ag
       |       UNION ALL SELECT 'source', is_match, ag_source FROM ag),
       |tr AS (SELECT field,
       |          sum(CASE WHEN is_match THEN 1 ELSE 0 END)::BIGINT AS n_m,
       |          sum(CASE WHEN is_match THEN agree ELSE 0 END)::BIGINT AS agree_m,
       |          sum(CASE WHEN NOT is_match THEN 1 ELSE 0 END)::BIGINT AS n_u,
       |          sum(CASE WHEN NOT is_match THEN agree ELSE 0 END)::BIGINT AS agree_u
       |       FROM st GROUP BY 1),
       |w AS (SELECT field, n_m, agree_m, n_u, agree_u,
       |         ((agree_m + 1) * 1000000 // (n_m + 2))::BIGINT AS m_ppm,
       |         ((agree_u + 1) * 1000000 // (n_u + 2))::BIGINT AS u_ppm FROM tr)
       |SELECT field, n_m, agree_m, n_u, agree_u, m_ppm, u_ppm,
       |       (${Ilog2.sqlReplay("m_ppm")}
       |        - ${Ilog2.sqlReplay("u_ppm")})::BIGINT AS w_fp
       |FROM w ORDER BY field""".stripMargin

  /** Exact tie-aware ROC AUC — the threshold-free complement of q282's
    * confusion matrix, and the standard acceptance gate for any cheap
    * scorer before it filters a corpus at 100 TB. Two scorers audited
    * side by side, one row each: `chars_vs_tokens` — does raw n_chars
    * predict "BPE token count > 56" (the pre-tokenization budget gate;
    * a REAL proxy, AUC ≈ 0.999) — and `stopwords_vs_lang` — does the
    * q21 'en'-stopword rate predict lang = 'en' (NO signal in this
    * corpus, AUC ≈ 0.47 — the null-scorer calibration point that
    * proves the metric isn't flattering noise). AUC via the rank-sum
    * (Mann–Whitney) identity with TIES AVERAGED — on discrete integer
    * scores ties are the common case and the naive row_number form is
    * biased; a tied block's mid-rank is rational, so the fold carries
    * 2·rank: 2R⁺ = Σ_s p_s·(2·cum_n(s) − n_s + 1) over per-score
    * groups, AUC = (2R⁺ − P(P+1)) / (2PN) — all BIGINT, one exact div
    * to ppm. Scale shapes: ONE corpus scan per scorer reduces to
    * per-(scorer, score) counts — the score domain bounds every later
    * stage; cumulative counts via the range-partitioned prefix sum
    * GROUPED BY SCORER (hint 2 — no global window); the final fold is
    * one map-side-combined aggregate per scorer. 2R⁺ < 2n² —
    * BIGINT-safe below ~2·10⁹ scored docs; past that, widen the two
    * sums to DECIMAL(38,0) like q226/q238. Zero-token docs carry no
    * stopword rate and are excluded from that scorer's eval set. */
  val q305_roc_auc: Q = (s, d) => {
    val enPat = TextAnalysis.langProfiles.head._2
    val doc = Tables.documents(s, d)
    val chars = doc.select(lit("chars_vs_tokens").as("scorer"),
      col("n_chars").as("score"), charsVsTokensLabel(col("text")).as("pos"))
    val stops = doc.select(
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"),
        size(regexp_extract_all(lower(col("text")), lit(enPat), lit(0)))
          .cast("long").as("s_en"),
        TextAnalysis.wsTokenCount(col("text")).as("n_tok"))
      .where(col("n_tok") > 0)
      .select(lit("stopwords_vs_lang").as("scorer"),
        expr("1000000 * s_en div n_tok").as("score"), col("pos"))
    rankSumAuc(chars.unionAll(stops), "scorer", grpHint = 2L)
      .select(col("scorer"), col("pos"),
        (col("n_all") - col("pos")).as("neg"), col("two_r_pos"),
        col("auc_ppm"))
      .orderBy(col("scorer"))
  }

  /** The q305 token-budget proxy label (BPE tokens > 56) — shared with
    * the q310 release gate so the two can't silently de-sync. */
  private[queries] def charsVsTokensLabel(text: Column): Column =
    when(TextAnalysis.bpeTokenCount(text) > 56L, 1L).otherwise(0L)

  /** Tie-averaged rank-sum (Mann–Whitney) AUC over a pre-scored frame
    * `(grp, score, pos)` — the q305 fold, shared with q310's per-source
    * form. Returns `(grp, two_r_pos, pos, n_all, auc_ppm)`; auc_ppm is
    * NULL for one-class groups (nullif guard on both engines). */
  private[queries] def rankSumAuc(scored: DataFrame, grp: String,
                                  grpHint: Long): DataFrame = {
    val perScore = scored.groupBy(col(grp), col("score"))
      .agg(count(lit(1)).as("n_s"), sum(col("pos")).as("p_s"))
    val cum = graft.operators.RunningTotal.grouped(perScore, grp,
      Seq("score"), "n_s", "cum_n", groupCountHint = Some(grpHint))
    cum.groupBy(col(grp))
      .agg(sum(col("p_s") * (col("cum_n") * 2 - col("n_s") + 1))
          .as("two_r_pos"),
        sum(col("p_s")).as("pos"),
        sum(col("n_s")).as("n_all"))
      .withColumn("auc_ppm", expr(
        "(two_r_pos - pos * (pos + 1)) * 1000000" +
          " div nullif(2 * pos * (n_all - pos), 0)"))
  }

  val q305_sql: String = {
    val enPat = TextAnalysis.langProfiles.head._2
    s"""WITH ch AS (SELECT 'chars_vs_tokens' AS scorer, n_chars AS score,
       |    CASE WHEN len(regexp_extract_all(text,
       |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) > 56
       |    THEN 1 ELSE 0 END AS pos
       |  FROM documents),
       |dsc AS (SELECT
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
       |    len(regexp_extract_all(lower(text), '$enPat')) AS s_en,
       |    len(list_filter(string_split_regex(text, '\\s+'),
       |        x -> x <> '')) AS n_tok
       |  FROM documents),
       |st AS (SELECT 'stopwords_vs_lang' AS scorer,
       |         (1000000 * s_en // n_tok)::BIGINT AS score, pos
       |       FROM dsc WHERE n_tok > 0),
       |sc AS (SELECT * FROM ch UNION ALL SELECT * FROM st),
       |g AS (SELECT scorer, score, count(*)::BIGINT AS n_s,
       |        sum(pos)::BIGINT AS p_s
       |      FROM sc GROUP BY 1, 2),
       |cm AS (SELECT scorer, score, n_s, p_s,
       |         sum(n_s) OVER (PARTITION BY scorer ORDER BY score) AS cum_n
       |       FROM g),
       |agg AS (SELECT scorer,
       |          sum(p_s * (2 * cum_n - n_s + 1))::BIGINT AS two_r_pos,
       |          sum(p_s)::BIGINT AS pos, sum(n_s)::BIGINT AS n_all
       |        FROM cm GROUP BY 1)
       |SELECT scorer, pos, (n_all - pos)::BIGINT AS neg, two_r_pos,
       |  ((two_r_pos - pos * (pos + 1)) * 1000000
       |   // nullif(2 * pos * (n_all - pos), 0))::BIGINT AS auc_ppm
       |FROM agg ORDER BY scorer""".stripMargin
  }

  /** KAPLAN–MEIER survival of time-to-purchase with right-censoring —
    * the churn/conversion-latency curve no simple aggregate can express:
    * S(t) = Π_{t_i ≤ t} (1 − d_i/n_i) over event times, where users who
    * never purchase are CENSORED at the observation horizon (they leave
    * the risk set without an event — dropping them entirely would bias
    * S downward, counting them as non-events upward; KM is the standard
    * correction). Log-domain through [[Ilog2]] so the product is
    * certifiable: log₂S(t) = Σ ilog2(n_i − d_i) − ilog2(n_i) in 16-bit
    * fixed point, exact on both engines (S = 2^(fp/65536); the product
    * form would need arbitrary-precision rationals). Scale shapes: one
    * event scan → per-user (first-event, first-purchase) frame → per-DAY
    * reduced frame; the risk set n_t comes from ONE range-partitioned
    * prefix sum over that bounded frame (n_t = N − leavers before t),
    * and the survival fold is a second prefix sum over event days only —
    * no global window ever sees the corpus. The terminal day where
    * n = d (survival hits exactly 0, log undefined) is excluded on both
    * engines — the curve ends there by definition. */
  val q311_kaplan_meier: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("tsm"))
      .localCheckpoint(true) // consumers: t0, first-purchase, horizon
    val t0 = ev.groupBy(col("user_id")).agg(min(col("tsm")).as("t0"))
    val tp = ev.where(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("tsm")).as("tp"))
    val horizon = ev.agg(max(col("tsm")).as("tmax"))
    val users = t0.join(tp, Seq("user_id"), "left")
      .crossJoin(broadcast(horizon)) // ×1 row
      .select(
        when(col("tp").isNotNull, lit(1L)).otherwise(0L).as("event"),
        when(col("tp").isNotNull, expr("(tp - t0) div 86400000"))
          .otherwise(expr("(tmax - t0) div 86400000")).as("day"))
      .localCheckpoint(true) // consumers: per-day frame + total count
    val perDay = users.groupBy(col("day"))
      .agg(count(lit(1)).as("leave_n"), sum(col("event")).as("d"))
      .withColumn("g", lit(0))
    val cum = graft.operators.RunningTotal.grouped(perDay, "g", Seq("day"),
        "leave_n", "cum_leave", groupCountHint = Some(1L))
      .crossJoin(broadcast(users.agg(count(lit(1)).as("n_total"))))
      .withColumn("n_risk",
        col("n_total") - col("cum_leave") + col("leave_n"))
    val steps = cum.where(col("d") > 0 && col("n_risk") > col("d"))
      .select(col("day"), col("n_risk"), col("d"),
        (Ilog2.ilog2(col("n_risk") - col("d")) - Ilog2.ilog2(col("n_risk")))
          .as("step_fp"))
      .withColumn("g", lit(0))
    graft.operators.RunningTotal.grouped(steps, "g", Seq("day"),
        "step_fp", "log2_surv_fp", groupCountHint = Some(1L))
      .select(col("day"), col("n_risk"), col("d"), col("log2_surv_fp"))
      .orderBy(col("day"))
  }

  val q311_sql: String =
    s"""WITH ev AS (SELECT user_id, event_type, epoch_ms(ts) AS tsm
       |            FROM events),
       |t0 AS (SELECT user_id, min(tsm) AS t0 FROM ev GROUP BY 1),
       |tp AS (SELECT user_id, min(tsm) AS tp FROM ev
       |       WHERE event_type = 'purchase' GROUP BY 1),
       |tm AS (SELECT max(tsm) AS tmax FROM ev),
       |u AS (SELECT CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS event,
       |        CASE WHEN tp IS NOT NULL THEN (tp - t0) // 86400000
       |             ELSE (tmax - t0) // 86400000 END AS day
       |      FROM t0 LEFT JOIN tp USING (user_id) CROSS JOIN tm),
       |pd AS (SELECT day, count(*)::BIGINT AS leave_n,
       |         sum(event)::BIGINT AS d FROM u GROUP BY 1),
       |cm AS (SELECT day, leave_n, d,
       |         sum(leave_n) OVER (ORDER BY day) AS cum_leave,
       |         (SELECT count(*) FROM u)::BIGINT AS n_total FROM pd),
       |rk AS (SELECT day, d,
       |         (n_total - cum_leave + leave_n)::BIGINT AS n_risk FROM cm),
       |st AS (SELECT day, n_risk, d,
       |         (${Ilog2.sqlReplay("(n_risk - d)")}
       |          - ${Ilog2.sqlReplay("n_risk")})::BIGINT AS step_fp
       |       FROM rk WHERE d > 0 AND n_risk > d)
       |SELECT day, n_risk, d,
       |       sum(step_fp) OVER (ORDER BY day)::BIGINT AS log2_surv_fp
       |FROM st ORDER BY day""".stripMargin

  /** Hash-split A/B conversion test — the experiment evaluator: users
    * are assigned to arms by an md5-hex digit (deterministic,
    * reproducible under re-runs and repartitioning — the same discipline
    * as q282's train/holdout split; never RNG), the metric is 24-hour
    * purchase conversion, and the verdict is the exact Pearson χ² for the 2×2
    * table: χ² = N·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d)), computed in
    * DECIMAL(38,0)/HUGEINT and emitted as one integral div to ppm —
    * compared against the literal 5% critical value 3.841459·10⁶ (df=1).
    * Here the arms are a null split of the same population, so the
    * expected verdict is NOT significant — the A/A calibration every
    * experimentation platform runs before trusting its pipeline. Scale
    * shapes: one event scan → per-user conversion flag (map-side
    * combinable max) → a 2×2 aggregate; everything after the scan is
    * constant-size. N·(ad−bc)²·10⁶ < 10³⁸ holds below ~10⁸ users per
    * arm; past that, drop the ppm scale or subsample arms. */
  val q312_ab_test: Q = (s, d) => {
    // metric: purchased within 24h of the user's FIRST event (plain
    // "ever purchased" saturates at 100% on this corpus — no variance
    // to test); two conditional mins, map-side combinable
    val conv = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("tsm"))
      .groupBy(col("user_id"))
      .agg(min(col("tsm")).as("t0"),
        min(when(col("event_type") === "purchase", col("tsm"))).as("tp"))
      .select(col("user_id"),
        when(col("tp").isNotNull && col("tp") - col("t0") < 86400000L, 1L)
          .otherwise(0L).as("conv"))
      .withColumn("in_a",
        expr("substr(md5(cast(user_id as string)), 1, 1) < '8'"))
    val dec = "decimal(38,0)"
    conv.agg(
        sum(when(col("in_a") && col("conv") === 1L, 1L).otherwise(0L))
          .cast(dec).as("a"),
        sum(when(col("in_a") && col("conv") === 0L, 1L).otherwise(0L))
          .cast(dec).as("b"),
        sum(when(!col("in_a") && col("conv") === 1L, 1L).otherwise(0L))
          .cast(dec).as("c"),
        sum(when(!col("in_a") && col("conv") === 0L, 1L).otherwise(0L))
          .cast(dec).as("dd"))
      .select(
        expr("cast(a + b as bigint)").as("n_a"),
        expr("cast(c + dd as bigint)").as("n_b"),
        expr("cast(a as bigint)").as("conv_a"),
        expr("cast(c as bigint)").as("conv_b"),
        expr("cast((a * 1000000) div (a + b) as bigint)").as("rate_a_ppm"),
        expr("cast((c * 1000000) div (c + dd) as bigint)").as("rate_b_ppm"),
        expr("cast(((a + b + c + dd) * (a * dd - b * c) * (a * dd - b * c)" +
          " * 1000000) div nullif((a + b) * (c + dd) * (a + c) * (b + dd)," +
          " 0) as bigint)").as("chi2_ppm"))
      .withColumn("significant",
        coalesce(col("chi2_ppm") >= 3841459L, lit(false)))
  }

  val q312_sql: String =
    """WITH pu AS (SELECT user_id, min(epoch_ms(ts)) AS t0,
      |    min(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END) AS tp
      |  FROM events GROUP BY user_id),
      |cv AS (SELECT user_id,
      |    CASE WHEN tp IS NOT NULL AND tp - t0 < 86400000 THEN 1 ELSE 0 END
      |      AS conv,
      |    substr(md5(user_id::VARCHAR), 1, 1) < '8' AS in_a
      |  FROM pu),
      |t AS (SELECT
      |    sum(CASE WHEN in_a AND conv = 1 THEN 1 ELSE 0 END)::HUGEINT AS a,
      |    sum(CASE WHEN in_a AND conv = 0 THEN 1 ELSE 0 END)::HUGEINT AS b,
      |    sum(CASE WHEN NOT in_a AND conv = 1 THEN 1 ELSE 0 END)::HUGEINT AS c,
      |    sum(CASE WHEN NOT in_a AND conv = 0 THEN 1 ELSE 0 END)::HUGEINT AS dd
      |  FROM cv)
      |SELECT (a + b)::BIGINT AS n_a, (c + dd)::BIGINT AS n_b,
      |  a::BIGINT AS conv_a, c::BIGINT AS conv_b,
      |  ((a * 1000000) // (a + b))::BIGINT AS rate_a_ppm,
      |  ((c * 1000000) // (c + dd))::BIGINT AS rate_b_ppm,
      |  (((a + b + c + dd) * (a * dd - b * c) * (a * dd - b * c) * 1000000)
      |   // nullif((a + b) * (c + dd) * (a + c) * (b + dd), 0))::BIGINT
      |    AS chi2_ppm,
      |  coalesce((((a + b + c + dd) * (a * dd - b * c) * (a * dd - b * c)
      |             * 1000000)
      |   // nullif((a + b) * (c + dd) * (a + c) * (b + dd), 0)) >= 3841459,
      |    false) AS significant
      |FROM t""".stripMargin
}
