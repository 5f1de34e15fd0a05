package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.llm.{Bpe, Curation, Dedup, Importance, Ivf, RollingHash, SemDedup, SetJoin, Similarity, TextAnalysis}
import graft.queries.LlmQueries.{ivfFixedCtes, lshCtes, shingleCtes, sqlDot, LshBands, LshK}

/** Per-document text-quality, LM-scoring, and dedup-continuation
  * queries, split out of [[LlmQueries]] (round-12 verdict: the registry
  * had regrown past the repo's ~1500-line file bar; this contiguous
  * curation-era block is the natural seam). Same contract and the same
  * cross-engine parity conventions as [[LlmQueries]] — the oracle SQL
  * is generated from the SAME Scala parameters as the Spark side. The
  * shared CTE builders consumed here AND by [[CurationQueries]]
  * (`crossLshCtes`, `gopherStatCtes`, `c4LineCtes`, `DsirBuckets`, …)
  * move with the block. */
object LlmTextQueries extends Registry {

  // ------------------------------------------------------------- curation


  /** Gopher-style repetition quality stats — [[Curation.repetitionStats]]'s
    * row-local sorted-run fold vs the oracle's unnest + per-gram GROUP BY:
    * two completely different formulations of "top n-gram frequency" and
    * "repeated-gram mass", hash-equal because every output is an integer
    * (the keep flag is pure integer arithmetic — no float thresholds). */
  val q112_repetition: Q = (s, d) =>
    Curation.repetitionStats(Tables.documents(s, d), "text", "doc_id")
      .orderBy(col("doc_id"))

  val q112_sql: String =
    """WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w FROM documents),
      |g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS g FROM toks WHERE len(w) >= 2),
      |c2 AS (SELECT doc_id, max(c)::BIGINT AS top2_count, sum(c)::BIGINT AS total_2grams
      |       FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2) GROUP BY 1),
      |g5 AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 3), i -> array_to_string(w[i:i+4], ' '))) AS g FROM toks WHERE len(w) >= 5),
      |c5 AS (SELECT doc_id, coalesce(sum(c) FILTER (c >= 2), 0)::BIGINT AS dup5_count, sum(c)::BIGINT AS total_5grams
      |       FROM (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY 1, 2) GROUP BY 1)
      |SELECT d.doc_id,
      |       coalesce(c2.total_2grams, 0) AS total_2grams,
      |       coalesce(c2.top2_count, 0) AS top2_count,
      |       coalesce(c5.total_5grams, 0) AS total_5grams,
      |       coalesce(c5.dup5_count, 0) AS dup5_count,
      |       (coalesce(c2.top2_count, 0) * 5 <= coalesce(c2.total_2grams, 0)
      |        AND coalesce(c5.dup5_count, 0) * 10 <= coalesce(c5.total_5grams, 0) * 3) AS keep
      |FROM documents d LEFT JOIN c2 USING (doc_id) LEFT JOIN c5 USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin


  /** Cross-document span dedup + reassembly — [[Curation.dedupSpans]]'s
    * md5-keyed winner election and struct-sorted reassembly vs the oracle's
    * row_number-over-span window and ordered string_agg. kept_text itself
    * is hash-compared, so span slicing, first-occurrence election, AND
    * in-order reassembly are all certified. */
  val q113_span_dedup: Q = (s, d) =>
    Curation.dedupSpans(Tables.documents(s, d), "text", "doc_id", 10)
      .orderBy(col("doc_id"))

  val q113_sql: String =
    """WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w FROM documents),
      |nz AS (SELECT * FROM toks WHERE len(w) > 0),
      |sp AS (SELECT doc_id, i AS idx, array_to_string(w[i:i+9], ' ') AS span
      |       FROM nz, unnest(range(1, len(w) + 1, 10)) AS t(i)),
      |rn AS (SELECT doc_id, idx, span,
      |              row_number() OVER (PARTITION BY span ORDER BY doc_id, idx) AS rn FROM sp),
      |k AS (SELECT doc_id, count(*)::BIGINT AS n_spans_kept,
      |             string_agg(span, ' ' ORDER BY idx) AS kept_text
      |      FROM rn WHERE rn = 1 GROUP BY doc_id),
      |tot AS (SELECT doc_id, ((len(w) - 1) // 10 + 1)::BIGINT AS n_spans_total FROM nz)
      |SELECT t.doc_id, t.n_spans_total,
      |       coalesce(k.n_spans_kept, 0) AS n_spans_kept,
      |       coalesce(k.kept_text, '') AS kept_text
      |FROM tot t LEFT JOIN k USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin


  /** Corpus-derived bigram LM fluency scores — [[Curation.lmScore]]'s
    * fixed-point p(w₂|w₁) sums vs the oracle's window-free SQL rebuild of
    * the same LM. All-integer, so the per-doc sums hash-match regardless
    * of join/aggregation order on either engine. */
  val q119_lm_score: Q = (s, d) =>
    Curation.lmScore(Tables.documents(s, d), "text", "doc_id")
      .orderBy(col("doc_id"))

  val q119_sql: String =
    """WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w FROM documents),
      |db AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS g FROM toks WHERE len(w) >= 2),
      |bc AS (SELECT g, count(*)::BIGINT AS c2 FROM db GROUP BY 1),
      |w1c AS (SELECT split_part(g, ' ', 1) AS w1, sum(c2)::BIGINT AS c1 FROM bc GROUP BY 1),
      |lm AS (SELECT g, (c2 * 1000000000000) // c1 AS p_fp
      |       FROM bc JOIN w1c ON split_part(bc.g, ' ', 1) = w1c.w1),
      |sc AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams, sum(p_fp)::BIGINT AS score_fp
      |       FROM db JOIN lm USING (g) GROUP BY 1)
      |SELECT t.doc_id,
      |       coalesce(sc.n_bigrams, 0) AS n_bigrams,
      |       coalesce(sc.score_fp, 0) AS score_fp,
      |       CASE WHEN coalesce(sc.n_bigrams, 0) > 0 THEN sc.score_fp // sc.n_bigrams ELSE 0 END AS avg_fp
      |FROM toks t LEFT JOIN sc USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin


  /** Incremental corpus dedup (the daily-increment shape): incoming docs
    * (doc_id ≡ 0 mod 5) are dropped if their content hash already exists
    * in the standing corpus (anti join against its distinct fingerprints),
    * then self-deduped keeping the smallest id — exactly what a crawl
    * pipeline runs per ingest batch. */
  val q120_incremental_dedup: Q = (s, d) => {
    val docs = Tables.widen(Tables.documents(s, d))
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
    val incoming = docs.where(col("doc_id") % 5 === 0)
    val existing = docs.where(col("doc_id") % 5 =!= 0)
      .select(col("content_hash")).distinct()
    incoming.join(existing, Seq("content_hash"), "left_anti")
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("content_hash"))
  }

  val q120_sql: String =
    """WITH h AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
      |inc AS (SELECT * FROM h WHERE doc_id % 5 = 0),
      |ex AS (SELECT DISTINCT content_hash FROM h WHERE doc_id % 5 <> 0)
      |SELECT content_hash, min(doc_id) AS keeper_id, count(*) AS n_copies
      |FROM inc WHERE content_hash NOT IN (SELECT content_hash FROM ex)
      |GROUP BY 1 ORDER BY content_hash""".stripMargin


  /** Unicode NFC canonicalization — [[graft.functions.NfcNormalize]], the
    * native codegen expression, vs DuckDB's `nfc_normalize` (both are
    * Unicode canonical composition). The fingerprint of the normalized
    * text is hash-compared, certifying byte-level agreement; the
    * combining-character cases the ASCII corpus can't exercise are pinned
    * in `NfcNormalizeSpec`. */
  val q122_nfc_normalize: Q = (s, d) =>
    Tables.widen(Tables.documents(s, d))
      .select(col("doc_id"),
        (graft.functions.NfcNormalize.nfcNative(col("text")) =!= col("text")).as("changed"),
        length(graft.functions.NfcNormalize.nfcNative(col("text"))).cast("long").as("nfc_len"),
        md5(graft.functions.NfcNormalize.nfcNative(col("text"))).as("nfc_fp"))
      .orderBy(col("doc_id"))

  val q122_sql: String =
    """SELECT doc_id,
      |       nfc_normalize(text) <> text AS changed,
      |       length(nfc_normalize(text))::BIGINT AS nfc_len,
      |       md5(nfc_normalize(text)) AS nfc_fp
      |FROM documents ORDER BY doc_id""".stripMargin


  /** All-pairs bag-of-shingles cosine similarity — the EXACT threshold
    * join the probabilistic near-dup family (q23 MinHash, q25/q31 SimHash)
    * approximates, made scale-feasible by df-pruning the inverted index
    * (see [[graft.llm.AllPairs]] for the blow-up bound and for why the
    * terms are 3-gram shingles, not unigrams). Thresholds: terms kept at
    * 2 ≤ df ≤ 50, pairs kept at fixed-point cos² ≥ 0.04·10⁶ (cosine ≥ 0.2
    * over the pruned term space) — 28/27/258 pairs at sf0.001/0.01/0.1,
    * nearly all true near-dups (cos ≥ 0.8). */
  private[queries] val ApMaxDf = 50

  private[queries] val ApMinCos2Fp = 40000L

  /** Semantic dedup (SemDeDup): fixed-centroid coarse cells (the q56
    * machinery — `Ivf.fit` with zero Lloyd rounds IS the 8
    * smallest-id vectors), then exact within-cell cosine at ≥ 0.40 drops
    * every vector with a smaller-id near-neighbor. Reuses the
    * [[ivfFixedCtes]] oracle fragment so cells cannot drift from q56. */
  private[queries] val SemDedupThr = 0.40

  val q126_semdedup: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val dim = graft.io.Stats.embeddingDim(s, d)
    SemDedup.verdicts(emb, Ivf.fit(emb, 8, 0, dim), dim, SemDedupThr)
      .withColumn("cell", col("cell").cast("long"))
      .orderBy(col("vec_id"))
  }

  val q126_sql: String =
    s"""WITH $ivfFixedCtes,
       |nrm AS (
       |  SELECT neighbor_id AS vec_id, cvec AS emb, cell,
       |         sqrt(${sqlDot("cvec", "cvec")}) AS nrm
       |  FROM assigned),
       |dup AS (
       |  SELECT b.vec_id, count(*) AS n_dups_prior
       |  FROM nrm a JOIN nrm b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE ${sqlDot("a.emb", "b.emb")} / (a.nrm * b.nrm) >= $SemDedupThr::DOUBLE
       |  GROUP BY 1)
       |SELECT v.vec_id, v.cell,
       |       CAST(coalesce(c.n_dups_prior, 0) AS BIGINT) AS n_dups_prior,
       |       coalesce(c.n_dups_prior, 0) = 0 AS kept
       |FROM (SELECT neighbor_id AS vec_id, cell FROM assigned) v
       |LEFT JOIN dup c USING (vec_id)
       |ORDER BY vec_id""".stripMargin


  /** DSIR-shaped data selection: importance-score every document against
    * the `lang = 'en'` target subset over 256 hashed bigram buckets
    * (rational add-one ratios — see [[graft.llm.Importance]]). */
  private[queries] val DsirBuckets = 256

  /** Windowed co-occurrence statistics with fixed-point PMI ratios — the
    * embedding-training co-occurrence table (word2vec/GloVe shape) built
    * with row-local pair generation and all-integer association scores
    * (see [[graft.llm.Cooccurrence]]). Window 3, noise floor c_xy ≥ 5. */
  val q130_cooccurrence: Q = (s, d) =>
    graft.llm.Cooccurrence.pairs(Tables.documents(s, d), "text", "doc_id",
        window = 3, minCount = 5L)
      .orderBy(col("term_a"), col("term_b"))

  val q130_sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS ts
      |  FROM documents),
      |pr AS (
      |  SELECT least(ts[i], ts[i+d]) AS a, greatest(ts[i], ts[i+d]) AS b
      |  FROM toks, unnest(range(1, len(ts) + 1)) AS t(i), unnest(range(1, 4)) AS g(d)
      |  WHERE i + d <= len(ts)),
      |uni AS (SELECT u.tok AS t, count(*) AS c FROM toks, unnest(ts) AS u(tok) GROUP BY 1),
      |tot AS (SELECT (SELECT sum(len(ts)) FROM toks) AS t_tokens,
      |               (SELECT count(*) FROM pr) AS t_pairs),
      |pc AS (SELECT a, b, count(*) AS c_xy FROM pr GROUP BY a, b HAVING count(*) >= 5)
      |SELECT pc.a AS term_a, pc.b AS term_b, pc.c_xy, ua.c AS c_x, ub.c AS c_y,
      |       cast((pc.c_xy::HUGEINT * t_tokens * t_tokens * 1000000)
      |            // (t_pairs::HUGEINT * ua.c * ub.c) AS BIGINT) AS ratio_fp
      |FROM pc JOIN uni ua ON ua.t = pc.a JOIN uni ub ON ub.t = pc.b CROSS JOIN tot
      |ORDER BY term_a, term_b""".stripMargin


  /** Laplace-smoothed bigram-LM fluency scoring — q119's documented
    * escape from the unsmoothed hapax-scores-high limit: p = (c₂+1)/(c₁+V)
    * in the same order-independent fixed point, V the unigram vocabulary
    * size as a 1-row broadcast aggregate. */
  val q132_lm_smoothed: Q = (s, d) =>
    Curation.lmScore(Tables.documents(s, d), "text", "doc_id", addOne = true)
      .orderBy(col("doc_id"))

  val q132_sql: String =
    """WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w FROM documents),
      |db AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS g FROM toks WHERE len(w) >= 2),
      |bc AS (SELECT g, count(*)::BIGINT AS c2 FROM db GROUP BY 1),
      |w1c AS (SELECT split_part(g, ' ', 1) AS w1, sum(c2)::BIGINT AS c1 FROM bc GROUP BY 1),
      |vv AS (SELECT count(DISTINCT u.tok)::BIGINT AS v FROM toks, unnest(w) AS u(tok)),
      |lm AS (SELECT g, ((c2 + 1) * 1000000000000) // (c1 + (SELECT v FROM vv)) AS p_fp
      |       FROM bc JOIN w1c ON split_part(bc.g, ' ', 1) = w1c.w1),
      |sc AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams, sum(p_fp)::BIGINT AS score_fp
      |       FROM db JOIN lm USING (g) GROUP BY 1)
      |SELECT t.doc_id,
      |       coalesce(sc.n_bigrams, 0) AS n_bigrams,
      |       coalesce(sc.score_fp, 0) AS score_fp,
      |       CASE WHEN coalesce(sc.n_bigrams, 0) > 0 THEN sc.score_fp // sc.n_bigrams ELSE 0 END AS avg_fp
      |FROM toks t LEFT JOIN sc USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin


  /** Exact duplicated-substring audit (char 20-grams, global count ≥ 2,
    * per-doc maximal-interval coverage) — the suffix-array-style exact tier
    * of the dedup family, oracled via the identical gaps-and-islands
    * computation in SQL (see [[graft.llm.Curation.dupSubstrings]]). */
  val q134_dup_substrings: Q = (s, d) =>
    Curation.dupSubstrings(Tables.documents(s, d), "text", "doc_id", k = 20)
      .orderBy(col("doc_id"))

  val q134_sql: String =
    """WITH d0 AS (SELECT doc_id, text, length(text)::BIGINT AS n FROM documents),
      |grams AS (
      |  SELECT doc_id, i, md5(substr(text, i::INT, 20)) AS h
      |  FROM d0, unnest(range(1, n - 18)) AS t(i)
      |  WHERE n >= 20),
      |dup AS (SELECT h FROM grams GROUP BY h HAVING count(*) >= 2),
      |pos AS (SELECT doc_id, i FROM grams JOIN dup USING (h)),
      |seq AS (SELECT doc_id, i,
      |               lag(i)  OVER (PARTITION BY doc_id ORDER BY i) AS pi,
      |               lead(i) OVER (PARTITION BY doc_id ORDER BY i) AS ni
      |        FROM pos),
      |agg AS (SELECT doc_id,
      |               count(*)::BIGINT AS n_dup_grams,
      |               sum(CASE WHEN pi IS NULL OR i - pi >= 20 THEN 1 ELSE 0 END)::BIGINT AS n_islands,
      |               sum(CASE WHEN ni IS NULL THEN 20 ELSE least(ni - i, 20) END)::BIGINT AS dup_chars
      |        FROM seq GROUP BY doc_id)
      |SELECT d0.doc_id, d0.n AS n_chars,
      |       coalesce(a.n_dup_grams, 0) AS n_dup_grams,
      |       coalesce(a.n_islands, 0) AS n_islands,
      |       coalesce(a.dup_chars, 0) AS dup_chars,
      |       CASE WHEN d0.n > 0 THEN (coalesce(a.dup_chars, 0) * 1000000) // d0.n
      |            ELSE 0 END AS coverage_fp
      |FROM d0 LEFT JOIN agg a USING (doc_id)
      |ORDER BY d0.doc_id""".stripMargin


  /** Cross-corpus LSH CTEs (expects toks/sh in scope; corpus = doc_id ≢ 0
    * mod 7, bench = ≡ 0): signatures, band buckets, corpus-side cap —
    * shared by q135's pair listing and q138's contamination gate. */
  private[queries] val crossLshCtes: String = {
    val hashAggs = (0 until LshK)
      .map(s => s"min(substr(md5('$s|' || shingle),1,16)) AS h$s").mkString(", ")
    val rpb = LshK / LshBands
    val bandSel = (0 until LshBands).map { b =>
      val key = (0 until rpb).map(r => s"h${b * rpb + r}").mkString(" || ")
      s"SELECT doc_id, $b AS band, $key AS bkey FROM sig"
    }.mkString(" UNION ALL ")
    s"""sig AS (SELECT doc_id, $hashAggs FROM sh GROUP BY doc_id),
       |ab AS ($bandSel),
       |cb AS (SELECT doc_id, band, bkey FROM (
       |  SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bsz
       |  FROM ab WHERE doc_id % 7 <> 0) WHERE bsz <= 1000),
       |bb AS (SELECT doc_id AS bench_id, band, bkey FROM ab WHERE doc_id % 7 = 0)""".stripMargin
  }

  /** Interpolated Kneser-Ney bigram fluency scoring (discount 3/4 as a
    * rational, continuation counts, all-integer — see
    * [[graft.llm.Curation.lmScoreKN]]): the production-grade smoothing
    * tier above q119 (raw) and q132 (Laplace). */
  val q141_lm_kneser_ney: Q = (s, d) =>
    Curation.lmScoreKN(Tables.documents(s, d), "text", "doc_id")
      .orderBy(col("doc_id"))

  val q141_sql: String =
    """WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w FROM documents),
      |db AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS g FROM toks WHERE len(w) >= 2),
      |bc AS (SELECT g, split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2, count(*)::BIGINT AS c2 FROM db GROUP BY 1, 2, 3),
      |w1c AS (SELECT w1, sum(c2)::BIGINT AS c1, count(*)::BIGINT AS succ FROM bc GROUP BY 1),
      |predc AS (SELECT w2, count(*)::BIGINT AS pred FROM bc GROUP BY 1),
      |tt AS (SELECT count(*)::BIGINT AS t_types FROM bc),
      |lm AS (SELECT g,
      |         ((4 * c2 - 3) * 1000000000000) // (4 * c1)
      |         + (3 * succ * ((pred * 1000000000000) // t_types)) // (4 * c1) AS p_fp
      |       FROM bc JOIN w1c USING (w1) JOIN predc USING (w2) CROSS JOIN tt),
      |sc AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams, sum(p_fp)::BIGINT AS score_fp
      |       FROM db JOIN lm USING (g) GROUP BY 1)
      |SELECT t.doc_id,
      |       coalesce(sc.n_bigrams, 0) AS n_bigrams,
      |       coalesce(sc.score_fp, 0) AS score_fp,
      |       CASE WHEN coalesce(sc.n_bigrams, 0) > 0 THEN sc.score_fp // sc.n_bigrams ELSE 0 END AS avg_fp
      |FROM toks t LEFT JOIN sc USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin


  /** Gopher stat CTEs over `documents` (shared q149 / q155). */
  private[queries] val gopherStatCtes: String = {
    val stops = Curation.GopherStopwords.map(w => s"'$w'").mkString(", ")
    s"""gt AS (SELECT doc_id,
       |  list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS w,
       |  string_split(text, chr(10)) AS ls FROM documents),
       |gst AS (SELECT doc_id,
       |  len(w)::BIGINT AS n_words,
       |  coalesce(list_aggregate(list_transform(w, x -> length(x)), 'sum'), 0)::BIGINT AS sum_word_chars,
       |  len(list_filter(w, x -> regexp_matches(x, '[a-z]')))::BIGINT AS n_alpha_words,
       |  len(list_filter(w, x -> list_contains([$stops], x)))::BIGINT AS n_stop_hits,
       |  len(ls)::BIGINT AS n_lines,
       |  len(list_filter(ls, x -> left(ltrim(x), 1) IN ('-', '*', '•')))::BIGINT AS n_bullet_lines,
       |  len(list_filter(ls, x -> right(rtrim(x), 3) = '...' OR right(rtrim(x), 1) = '…'))::BIGINT AS n_ellipsis_lines
       | FROM gt)""".stripMargin
  }


  /** The Gopher keep predicate over gst's columns (shared q149 / q155). */
  private[queries] val gopherKeepSql: String =
    """(n_words >= 50 AND n_words <= 100000
      |   AND sum_word_chars >= n_words * 3 AND sum_word_chars <= n_words * 10
      |   AND n_alpha_words * 5 >= n_words * 4
      |   AND n_stop_hits >= 2
      |   AND n_bullet_lines * 10 <= n_lines * 9
      |   AND n_ellipsis_lines * 10 <= n_lines * 3)""".stripMargin


  /** C4 decorated-line CTEs over `documents` (shared q150 / q155). */
  private[queries] val c4LineCtes: String =
    """cdeco AS (SELECT doc_id,
      |  replace(replace(text, ' table ', '.' || chr(10) || 'table '),
      |          ' spark ', '!' || chr(10) || 'spark ') AS text FROM documents),
      |ct AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM cdeco),
      |ck AS (SELECT doc_id, ls,
      |  list_filter(ls, l -> right(rtrim(l), 1) IN ('.', '!', '?', '"')
      |    AND len(list_filter(string_split_regex(lower(l), '\W+'), x -> x <> '')) >= 3
      |    AND NOT contains(lower(l), '{') AND NOT contains(lower(l), 'javascript')
      |    AND NOT contains(lower(l), 'lorem ipsum')) AS kl
      | FROM ct)""".stripMargin


  /** Quality-keeper near-dup election — the keeper-policy variant of q61:
    * LSH candidate pairs → connected components → per-cluster argmax by
    * (quality, doc_id), singletons their own keepers. The election is a
    * bounded max(struct) aggregate (q118's license), never a per-cluster
    * window; production swaps n_chars for its quality score. */
  val q154_dedup_keeper: Q = (s, d) => {
    val docs = Tables.widen(Tables.documents(s, d))
    val pairs = DocLsh.pairs(s, d)
    val comp = graft.operators.ConnectedComponents
      .components(pairs, "doc_a", "doc_b")
      .select(col("id").as("doc_id"), col("cluster_id"))
    val membership = docs.select(col("doc_id"), col("n_chars"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    membership.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("n_chars"), col("doc_id"))).as("__w"))
      .select(col("cluster_id"), col("n_members"),
        col("__w.doc_id").as("keeper_id"), col("__w.n_chars").as("keeper_score"))
      .orderBy(col("cluster_id"))
  }

  val q154_sql: String =
    s"""WITH RECURSIVE ${lshCtes(LshK, LshBands)},
       |und AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |        UNION SELECT doc_b, doc_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM und
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN und e ON r.dst = e.src),
       |comp AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
       |         FROM reach GROUP BY src),
       |m AS (SELECT d.doc_id, d.n_chars, coalesce(c.cluster_id, d.doc_id) AS cluster_id
       |      FROM documents d LEFT JOIN comp c USING (doc_id)),
       |r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
       |                ORDER BY n_chars DESC, doc_id DESC) AS rn FROM m),
       |cnt AS (SELECT cluster_id, count(*)::BIGINT AS n_members FROM m GROUP BY 1)
       |SELECT cnt.cluster_id, cnt.n_members,
       |       r.doc_id AS keeper_id, r.n_chars AS keeper_score
       |FROM cnt JOIN r USING (cluster_id) WHERE r.rn = 1
       |ORDER BY cluster_id""".stripMargin


  /** BPE trainer round — [[Bpe.pairCounts]]' weighted char-pair counts
    * over the vocab + [[Bpe.electMerge]]'s (max count, min pair) election
    * vs the oracle's independent unnest + GROUP BY + scalar-subquery
    * election. Counts are integers, the election pure (BIGINT, VARCHAR)
    * comparisons — hash-exact. */
  val q158_bpe_pairs: Q = (s, d) => {
    val v = Bpe.vocab(Tables.documents(s, d), "text")
      .withColumn("syms", Bpe.charSymbols(col("word")))
    // two consumers (election + final projection): checkpoint the counts
    val counts = Bpe.pairCounts(v, "syms").localCheckpoint(true)
    val elected = Bpe.electMerge(counts).select(col("pair").as("__e"))
    counts.crossJoin(broadcast(elected))
      .select(col("pair"), col("cnt"), (col("pair") === col("__e")).as("is_merge"))
      .orderBy(col("cnt").desc, col("pair")).limit(20)
  }

  val q158_sql: String =
    """WITH v AS (SELECT word, count(*)::BIGINT AS n FROM (
      |  SELECT unnest(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '')) AS word
      |  FROM documents) GROUP BY 1),
      |p AS (SELECT unnest(list_transform(range(1, length(word)),
      |               i -> word[i:i] || ' ' || word[i+1:i+1])) AS pair, n
      |      FROM v WHERE length(word) >= 2),
      |pc AS (SELECT pair, sum(n)::BIGINT AS cnt FROM p GROUP BY 1),
      |e AS (SELECT min(pair) AS ep FROM pc WHERE cnt = (SELECT max(cnt) FROM pc))
      |SELECT pair, cnt, pair = (SELECT ep FROM e) AS is_merge
      |FROM pc ORDER BY cnt DESC, pair LIMIT 20""".stripMargin


  /** Prefix-filtered exact Jaccard join — [[SetJoin.jaccardPairs]]'
    * PPJoin-style candidate generation (df-ascending canonical order,
    * prefix postings only, cross-multiplied length filter) + exact
    * `array_intersect` verify, vs the oracle's UNFILTERED full token join
    * — so the oracle also certifies candidate COMPLETENESS: any τ≥0.7
    * pair the prefix filter missed would appear as an oracle-only row and
    * hash-mismatch. All integer arithmetic. */
  val q159_jaccard_ppjoin: Q = (s, d) =>
    SetJoin.jaccardPairs(Tables.documents(s, d), "doc_id", "text", 7L, 10L)
      .orderBy(col("doc_a"), col("doc_b"))

  val q159_sql: String =
    """WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS ts FROM documents),
      |g AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS term
      |      FROM t, unnest(range(1, len(ts) - 1)) AS u(i) WHERE len(ts) >= 3),
      |sz AS (SELECT doc_id, count(*)::BIGINT AS n FROM g GROUP BY 1),
      |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS inter
      |       FROM g a JOIN g b ON a.term = b.term AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |j AS (SELECT doc_a, doc_b, inter, sa.n + sb.n - inter AS uni
      |      FROM pr JOIN sz sa ON pr.doc_a = sa.doc_id JOIN sz sb ON pr.doc_b = sb.doc_id)
      |SELECT doc_a, doc_b, inter, uni, (inter * 1000000) // uni AS jac_fp
      |FROM j WHERE inter * 10 >= uni * 7 ORDER BY doc_a, doc_b""".stripMargin


  /** N-gram novelty attribution — [[Dedup.ngramNovelty]]'s
    * first-occurrence credit (gram-keyed min agg + join back, no window)
    * vs the oracle's independent replay. The corpus' near-dup pairs (the
    * q159 family) are exactly the docs whose larger id scores low here,
    * so the signal is exercised, not vacuous. */
  val q162_ngram_novelty: Q = (s, d) =>
    Dedup.ngramNovelty(Tables.documents(s, d), "text", "doc_id", 5)
      .orderBy(col("doc_id"))

  val q162_sql: String =
    """WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS ts FROM documents),
      |g AS (SELECT DISTINCT doc_id,
      |        ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4] AS gram
      |      FROM t, unnest(range(1, len(ts) - 3)) AS u(i) WHERE len(ts) >= 5),
      |o AS (SELECT gram, min(doc_id) AS owner FROM g GROUP BY 1),
      |n AS (SELECT g.doc_id, count(*)::BIGINT AS n_grams,
      |        sum(CASE WHEN o.owner = g.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_novel
      |      FROM g JOIN o USING (gram) GROUP BY 1)
      |SELECT d.doc_id, coalesce(n.n_grams, 0) AS n_grams,
      |       coalesce(n.n_novel, 0) AS n_novel,
      |       CASE WHEN coalesce(n.n_grams, 0) > 0
      |            THEN (n.n_novel * 1000000) // n.n_grams ELSE 0 END AS novelty_fp
      |FROM documents d LEFT JOIN n USING (doc_id) ORDER BY d.doc_id""".stripMargin
}
