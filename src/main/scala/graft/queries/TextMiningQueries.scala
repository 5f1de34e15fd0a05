package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.llm.{Dedup, TextAnalysis}
import graft.queries.LlmQueries._

/** Text-mining / index-structure queries over the `documents` table —
  * lexical-diversity audits, blocking, positional/phrase indexes,
  * gap statistics, chi-square independence, Zipf buckets, and the MOSS
  * winnowing family — split out of the monolithic [[LlmQueries]] registry
  * (round-9 maintainability: no non-test source file over 2000 lines).
  * Shared oracle-SQL helpers stay in [[LlmQueries]] with package-private
  * visibility; contract unchanged — every `q<N>_<name>` query has a DuckDB
  * `q<N>_sql` twin with identical column names and deterministic ordering.
  */
object TextMiningQueries extends Registry {

  /** Per-source lexical diversity — [[TextAnalysis.typeTokenStats]]:
    * type-token ratio and hapax share from ONE vocabulary-bounded
    * (source, token) aggregate; flags boilerplate (low TTR) and noise
    * (hapax spike) sources. */
  val q186_ttr_hapax: Q = (s, d) =>
    TextAnalysis.typeTokenStats(Tables.documents(s, d), "text", "source")
      .orderBy(col("grp"))

  val q186_sql: String =
    """WITH toks AS (SELECT source, unnest(list_filter(
      |         string_split_regex(lower(text), '\W+'), x -> x <> '')) AS tok
      |       FROM documents),
      |pt AS (SELECT source, tok, count(*)::BIGINT AS n FROM toks GROUP BY 1, 2)
      |SELECT source AS grp, sum(n)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types,
      |       sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
      |       ((count(*) * 1000000) // sum(n))::BIGINT AS ttr_fp,
      |       ((sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1000000) // count(*))::BIGINT AS hapax_fp
      |FROM pt GROUP BY source ORDER BY grp""".stripMargin


  /** Sorted-neighborhood blocking + exact verify —
    * [[graft.operators.SortedNeighborhood]]: candidates from a 5-wide
    * sliding window over the (first-4-tokens, doc_id) sort order (the
    * prefix-locality blocking hash methods miss), then the q24 exact
    * n-gram Jaccard verify over the candidate set only. Global positions
    * come from the range-partitioned prefix sum — no single-task window —
    * and the candidate count is (w−1)-linear in the corpus, never
    * all-pairs. */
  val q209_snm_blocking: Q = (s, d) => {
    val doc = Tables.documents(s, d)
    val sk = array_join(slice(TextAnalysis.tokens(col("text")), 1, 4), " ")
    val cands = graft.operators.SortedNeighborhood.pairs(
      doc.select(col("doc_id"), sk.as("sk")), "doc_id", col("sk"), w = 5)
    val shingled = DocLsh.shingles(s, d)
    Dedup.ngramJaccard(shingled, cands.select(col("doc_a"), col("doc_b")))
      .where(col("jaccard") >= 0.5)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val q209_sql: String =
    s"""WITH $shingleCtes,
       |k AS (SELECT doc_id, array_to_string(ts[1:4], ' ') AS sk FROM toks),
       |r AS (SELECT doc_id, row_number() OVER (ORDER BY sk, doc_id) AS r FROM k),
       |cand AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
       |                greatest(a.doc_id, b.doc_id) AS doc_b
       |         FROM r a JOIN r b ON b.r BETWEEN a.r + 1 AND a.r + 4),
       |sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
       |inter AS (SELECT p.doc_a, p.doc_b, count(*) AS n_inter
       |          FROM cand p
       |          JOIN sh a ON a.doc_id = p.doc_a
       |          JOIN sh b ON b.doc_id = p.doc_b AND a.shingle = b.shingle
       |          GROUP BY p.doc_a, p.doc_b)
       |SELECT i.doc_a, i.doc_b,
       |       i.n_inter::DOUBLE / (sa.set_size + sb.set_size - i.n_inter) AS jaccard
       |FROM inter i
       |JOIN sizes sa ON sa.doc_id = i.doc_a
       |JOIN sizes sb ON sb.doc_id = i.doc_b
       |WHERE i.n_inter::DOUBLE / (sa.set_size + sb.set_size - i.n_inter) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin


  /** POSTING-LIST DELTA-COMPRESSION audit — the storage-planning numbers
    * for an inverted index: per term (in the same 3 ≤ df ≤ 8 band as
    * q236), the sorted doc-id gaps, their max and sum, and the bits a
    * delta-varint would need (length of the binary form — integer-exact
    * on both engines). Discipline for 100 TB: document frequencies come
    * from a FIRST lightweight aggregate and gate a keyed semi-join
    * BEFORE any `collect_list` runs, so no stopword ever materializes a
    * corpus-sized array in an aggregation buffer; the surviving lists
    * are ≤ df elements and every gap computation is row-local
    * (`zip_with` over adjacent slices). */
  val q249_gap_stats: Q = (s, d) => {
    val postings = Tables.documents(s, d)
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      .distinct()
      .localCheckpoint(true) // consumers: df gate + gated collect
    val dfs = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .where(col("df").between(3, 8))
    val posts = postings
      .join(dfs, Seq("term"), "left_semi")
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        sort_array(collect_list(col("doc_id"))).as("docs"))
      .withColumn("gaps", expr(
        "zip_with(slice(docs, 2, cast(df as int) - 1), " +
          "slice(docs, 1, cast(df as int) - 1), (a, b) -> a - b)"))
    posts.select(col("term"), col("df"),
        element_at(col("docs"), 1).as("first_doc"),
        expr("array_max(gaps)").as("max_gap"),
        expr("aggregate(gaps, 0L, (acc, x) -> acc + x)").as("sum_gaps"),
        length(bin(expr("array_max(gaps)"))).cast("long").as("bits_per_gap"))
      .orderBy(col("term"))
  }

  val q249_sql: String =
    """WITH pd AS (SELECT DISTINCT doc_id, unnest(list_filter(
      |    string_split_regex(lower(text), '\W+'), x -> x <> '')) AS term
      |  FROM documents),
      |df AS (SELECT term, count(*)::BIGINT AS df FROM pd GROUP BY 1),
      |sel AS (SELECT term, df FROM df WHERE df BETWEEN 3 AND 8),
      |ag AS (SELECT pd.term, list_sort(list(doc_id)) AS docs
      |       FROM pd JOIN sel USING (term) GROUP BY 1),
      |g AS (SELECT term, docs, list_transform(range(2, len(docs) + 1),
      |        i -> docs[i] - docs[i - 1]) AS gaps FROM ag)
      |SELECT g.term, sel.df, docs[1] AS first_doc,
      |       list_max(gaps) AS max_gap,
      |       CAST(list_sum(gaps) AS BIGINT) AS sum_gaps,
      |       length(bin(list_max(gaps)))::BIGINT AS bits_per_gap
      |FROM g JOIN sel ON sel.term = g.term
      |ORDER BY g.term""".stripMargin


  /** POSITIONAL inverted-index build: token positions ride `posexplode`
    * (row-local — position is assigned inside the owning row, no window,
    * no zipWithIndex), then ONE map-side-combined aggregate per term
    * yields document frequency, collection frequency, and the first
    * occurrence as a lexicographic struct-min over (doc, pos) — the
    * phrase-query/proximity-scoring index layer that plain BM25 (q110)
    * doesn't carry. The audited slice is a df band (3 ≤ df ≤ 8): the
    * same bounded-postings discipline as AllPairs' maxDf pruning —
    * stopword-df terms would dominate the output and are exactly the
    * ones a positional index stores compressed-elsewhere at 100 TB. */
  val q236_positional_index: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "term")))
    toks.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"),
        count(lit(1)).as("cf"),
        min(struct(col("doc_id"), col("pos"))).as("f"))
      .where(col("df").between(3, 8))
      .select(col("term"), col("df"), col("cf"),
        col("f.doc_id").as("first_doc"), col("f.pos").cast("long").as("first_pos"))
      .orderBy(col("term"))
  }

  val q236_sql: String =
    """WITH tk AS (SELECT doc_id, unnest(t) AS term,
      |             unnest(range(0, len(t))) AS pos FROM (
      |      SELECT doc_id, list_filter(string_split_regex(lower(text),
      |               '\W+'), x -> x <> '') AS t FROM documents)),
      |st AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df,
      |              count(*)::BIGINT AS cf, min(doc_id) AS first_doc
      |       FROM tk GROUP BY 1),
      |fp AS (SELECT tk.term, min(pos)::BIGINT AS first_pos
      |       FROM tk JOIN st ON tk.term = st.term
      |                      AND tk.doc_id = st.first_doc
      |       GROUP BY 1)
      |SELECT term, df, cf, first_doc, first_pos
      |FROM st JOIN fp USING (term)
      |WHERE df BETWEEN 3 AND 8 ORDER BY term""".stripMargin


  /** Chi-square independence audit between document language and length
    * bucket — the corpus-balance diagnostic that catches a language whose
    * documents are systematically short (a truncation bug upstream) before
    * training sees it. Bucketing is row-local fixed edges (n_chars div
    * 300, capped at 4); ONE map-side-combined aggregate produces the
    * |langs|×5 contingency cells, and everything after — margins, expected
    * counts, per-cell deviations — is re-aggregation and broadcast joins
    * over that bounded frame, so the corpus is scanned exactly once at any
    * scale. Deviations stay exact BIGINTs (margin products are bounded by
    * |corpus|² — widen to DECIMAL(38,0)/HUGEINT past ~10⁹ docs) until ONE
    * IEEE division per cell, so chi2_cell hash-matches; the
    * expected count is also surfaced as exact fixed-point (ppm). */
  val q223_chisq_independence: Q = (s, d) => {
    val cells = Tables.documents(s, d)
      .select(col("lang"),
        least(expr("n_chars div 300"), lit(4L)).as("bucket"))
      .groupBy(col("lang"), col("bucket")).agg(count(lit(1)).as("n_ij"))
      .localCheckpoint(true) // consumers: two margins + total + cell frame
    val rowM = cells.groupBy(col("lang")).agg(sum(col("n_ij")).as("n_i"))
    val colM = cells.groupBy(col("bucket")).agg(sum(col("n_ij")).as("n_j"))
    val tot = cells.agg(sum(col("n_ij")).as("n"))
    cells
      .join(broadcast(rowM), Seq("lang"))
      .join(broadcast(colM), Seq("bucket"))
      .crossJoin(broadcast(tot)) // bounded x 1 row
      .withColumn("dev", col("n") * col("n_ij") - col("n_i") * col("n_j"))
      .select(col("lang"), col("bucket"), col("n_ij"),
        expr("(n_i * n_j * 1000000) div n").as("expected_ppm"),
        ((col("dev") * col("dev")).cast("double")
          / (col("n") * col("n_i") * col("n_j")).cast("double"))
          .as("chi2_cell"))
      .orderBy(col("lang"), col("bucket"))
  }

  val q223_sql: String =
    """WITH b AS (SELECT lang, least(n_chars // 300, 4) AS bucket
      |           FROM documents),
      |c AS (SELECT lang, bucket, count(*)::BIGINT AS n_ij FROM b
      |      GROUP BY 1, 2),
      |rm AS (SELECT lang, sum(n_ij)::BIGINT AS n_i FROM c GROUP BY 1),
      |cm AS (SELECT bucket, sum(n_ij)::BIGINT AS n_j FROM c GROUP BY 1),
      |t AS (SELECT sum(n_ij)::BIGINT AS n FROM c)
      |SELECT lang, bucket, n_ij,
      |       CAST((n_i * n_j * 1000000) // n AS BIGINT) AS expected_ppm,
      |       CAST((n * n_ij - n_i * n_j) * (n * n_ij - n_i * n_j) AS DOUBLE)
      |         / CAST(n * n_i * n_j AS DOUBLE) AS chi2_cell
      |FROM c JOIN rm USING (lang) JOIN cm USING (bucket), t
      |ORDER BY lang, bucket""".stripMargin


  /** Positional PHRASE search — [[TextAnalysis.phraseSearch]]: the query
    * layer over q236's positional index, matching the consecutive-token
    * phrase "fast sort" by equi-joining each term's df-bounded postings on
    * (doc, pos − offset). The oracle replays the phrase scan with DuckDB
    * list indexing (1-based, hence the −1 on first_pos). No full-document
    * self-join: posting size bounds every join input. */
  val q256_phrase_search: Q = (s, d) =>
    TextAnalysis.phraseSearch(Tables.documents(s, d), "text", "doc_id",
        Seq("fast", "sort"))
      .orderBy(col("doc_id"))

  val q256_sql: String =
    """WITH tk AS (SELECT doc_id, list_filter(string_split_regex(lower(text),
      |              '\W+'), x -> x <> '') AS w FROM documents),
      |p AS (SELECT doc_id, unnest(range(1, len(w))) AS i, w FROM tk
      |      WHERE len(w) >= 2),
      |m AS (SELECT doc_id, i FROM p WHERE w[i] = 'fast' AND w[i+1] = 'sort')
      |SELECT doc_id, count(*)::BIGINT AS n_occ,
      |       (min(i) - 1)::BIGINT AS first_pos
      |FROM m GROUP BY 1 ORDER BY 1""".stripMargin


  /** ZIPF rank-frequency audit in logarithmic RANK BUCKETS — the corpus
    * health check (a natural corpus has total frequency roughly constant
    * per doubling bucket; template spam shows up as a bulge) with NO libm:
    * bucket = bit-length of the frequency rank (`length(bin(rank))`, the
    * q249 varint trick), so every output is exact integer. The vocabulary
    * frequency frame is one map-side-combined groupBy; the global rank is
    * the range-partitioned prefix-sum pass (constant group, hint 1), so
    * no full-vocab single-node sort; output is ≤ 64 bucket rows. */
  val q261_zipf_buckets: Q = (s, d) => {
    val tf = Tables.documents(s, d)
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .withColumn("g", lit(0)).withColumn("one", lit(1L))
      .withColumn("nfreq", -col("freq"))
    val ranked = graft.operators.RunningTotal.grouped(tf, "g",
      Seq("nfreq", "tok"), "one", "rnk", groupCountHint = Some(1L))
    ranked.groupBy(length(bin(col("rnk"))).cast("long").as("rank_bucket"))
      .agg(count(lit(1)).as("n_types"), sum(col("freq")).as("total_freq"),
        max(col("freq")).as("max_freq"), min(col("freq")).as("min_freq"))
      .orderBy(col("rank_bucket"))
  }

  val q261_sql: String =
    """WITH toks AS (SELECT
      |    unnest(list_filter(string_split_regex(lower(text), '\W+'),
      |           x -> x <> '')) AS tok
      |  FROM documents),
      |tf AS (SELECT tok, count(*)::BIGINT AS freq FROM toks GROUP BY 1),
      |r AS (SELECT freq,
      |        row_number() OVER (ORDER BY freq DESC, tok) AS rnk FROM tf)
      |SELECT length(bin(rnk))::BIGINT AS rank_bucket,
      |       count(*)::BIGINT AS n_types, sum(freq)::BIGINT AS total_freq,
      |       max(freq) AS max_freq, min(freq) AS min_freq
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  /** WINNOWING fingerprint profile — [[Dedup.winnowingFingerprints]]
    * (Schleimer–Wilkerson–Aiken MOSS, k=3-token grams, w=4 windows):
    * per document, the retained-fingerprint count, the window count, and
    * the retention density in ppm (theory says ≈ 2/(w+1); a wild
    * deviation flags degenerate/repetitive text). All per-document keyed
    * windows + one distinct; the md5-derived hash replays exactly in
    * SQL, so the fingerprints themselves are certified. */
  val q269_winnowing: Q = (s, d) => {
    val fp = Dedup.winnowingFingerprints(Tables.documents(s, d), "text",
      "doc_id", k = 3, w = 4)
    val nt = Tables.documents(s, d).select(col("doc_id"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("ntok"))
    fp.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fp"), min(col("h")).as("min_fp"),
        max(col("h")).as("max_fp"))
      .join(nt, Seq("doc_id"))
      .select(col("doc_id"), col("n_fp"),
        (col("ntok") - 5).as("n_windows"), // G−w+1 grams windows, G=ntok−2
        expr("n_fp * 1000000 div (ntok - 5)").as("density_ppm"),
        col("min_fp"), col("max_fp"))
      .orderBy(col("doc_id"))
  }

  /** Shared winnowing CTEs (q269/q270): tokens with positions → 3-gram
    * hashes → ROWS-frame window minima → distinct fingerprints. DuckDB
    * positions are 1-based, hence `pos <= n − w + 1` for the full-window
    * gate (Spark's 0-based equivalent is `pos <= n − w`). */
  private[queries] val winnowCtes: String =
    """tk0 AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\W+'),
      |                x -> x <> '') AS ws
      |  FROM documents),
      |tk AS (SELECT doc_id, unnest(ws) AS tok,
      |         unnest(range(1, len(ws) + 1)) AS pos, len(ws) AS ntok
      |       FROM tk0),
      |kg AS (SELECT doc_id, pos, ntok,
      |         concat_ws(' ', tok, lead(tok, 1) OVER w,
      |                   lead(tok, 2) OVER w) AS kgs,
      |         lead(tok, 2) OVER w AS lst
      |       FROM tk WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |hh AS (SELECT doc_id, pos, ntok,
      |         ('0x' || substr(md5(kgs), 1, 8))::BIGINT AS h
      |       FROM kg WHERE lst IS NOT NULL),
      |mm AS (SELECT doc_id, ntok, pos,
      |         min(h) OVER (PARTITION BY doc_id ORDER BY pos
      |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
      |         count(*) OVER (PARTITION BY doc_id) AS n
      |       FROM hh),
      |f AS (SELECT DISTINCT doc_id, ntok, m AS h FROM mm
      |      WHERE pos <= n - 3)""".stripMargin

  val q269_sql: String =
    s"""WITH $winnowCtes
      |SELECT doc_id, count(*)::BIGINT AS n_fp,
      |       (max(ntok) - 5)::BIGINT AS n_windows,
      |       (count(*) * 1000000 // (max(ntok) - 5))::BIGINT AS density_ppm,
      |       min(h) AS min_fp, max(h) AS max_fp
      |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Cross-document WINNOWING MATCH — the MOSS match step over q269's
    * fingerprints: document pairs sharing ≥ 2 retained fingerprints,
    * generated by a POSTINGS equi-join on the fingerprint (never
    * all-pairs) with a df cap dropping boilerplate fingerprints that
    * appear in > 50 documents (a hot fingerprint predicts nothing and
    * would quadratically dominate the bucket join — the q23/LSH
    * maxBucket rule). Guarantee inherited from winnowing: any shared
    * token run ≥ k+w−1 = 6 tokens yields a shared fingerprint. */
  val q270_winnowing_match: Q = (s, d) => {
    val maxDf = 50L
    val fp = Dedup.winnowingFingerprints(Tables.documents(s, d), "text",
        "doc_id", k = 3, w = 4)
      .localCheckpoint(true) // consumers: df cap + both join sides
    val keep = fp.join(
      fp.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .where(col("df") <= maxDf).select(col("h")),
      Seq("h"), "left_semi")
    keep.as("a").join(keep.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= 2)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val q270_sql: String =
    s"""WITH $winnowCtes,
      |dfc AS (SELECT h FROM (SELECT h, count(*) AS df FROM f GROUP BY 1)
      |        WHERE df <= 50),
      |keep AS (SELECT f.doc_id, f.h FROM f JOIN dfc USING (h)),
      |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |              count(*)::BIGINT AS n_shared
      |       FROM keep a JOIN keep b
      |         ON a.h = b.h AND a.doc_id < b.doc_id
      |       GROUP BY 1, 2)
      |SELECT doc_a, doc_b, n_shared FROM pr WHERE n_shared >= 2
      |ORDER BY doc_a, doc_b""".stripMargin

  /** MINHASH CALIBRATION AUDIT — how well does the k=8 minhash signature
    * ESTIMATE Jaccard on the LSH candidate pairs it generates? Error
    * histogram of |estimate − exact| in 0.1-wide ppm buckets: the
    * estimator-quality diagnostic that tells you whether k is sized right
    * BEFORE trusting signature-only dedup thresholds at 100 TB (where
    * computing exact Jaccard for every pair is the thing you're trying to
    * avoid). Estimate = matching signature positions × 10⁶/8 (exact
    * integer); exact = shingle-set intersection via the q24 postings
    * joins, in integral ppm. Shapes: signatures attach to the pair frame
    * by two keyed joins, the intersection is postings-keyed (never
    * all-pairs), and the output histogram is ≤ 11 rows. */
  val q294_minhash_calibration: Q = (s, d) => {
    val shingled = DocLsh.shingles(s, d)
    val sig = DocLsh.signatures(s, d) // staged: banding + two attaches re-scan
    val pairs = DocLsh.pairs(s, d)
    val sigA = sig.select(col("doc_id").as("doc_a") +:
      (0 until LshK).map(i => col(s"h$i").as(s"ha$i")): _*)
    val sigB = sig.select(col("doc_id").as("doc_b") +:
      (0 until LshK).map(i => col(s"h$i").as(s"hb$i")): _*)
    val matches = (0 until LshK).map(i =>
      when(col(s"ha$i") === col(s"hb$i"), 1L).otherwise(0L)).reduce(_ + _)
    val est = pairs.join(sigA, Seq("doc_a")).join(sigB, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), (matches * lit(125000L)).as("est_ppm"))
    val sizes = shingled.groupBy(col("doc_id")).agg(count(lit(1)).as("set_size"))
    val inter = pairs
      .join(shingled.select(col("doc_id").as("doc_a"), col("shingle")), Seq("doc_a"))
      .join(shingled.select(col("doc_id").as("doc_b"), col("shingle")),
        Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_inter"))
    val exact = inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("set_size").as("sa")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("set_size").as("sb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("n_inter * 1000000 div (sa + sb - n_inter)").as("jac_ppm"))
    est.join(exact, Seq("doc_a", "doc_b"))
      .select(abs(col("est_ppm") - col("jac_ppm")).as("err_ppm"))
      .groupBy(expr("err_ppm div 100000").as("err_bucket"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("err_bucket"))
  }

  val q294_sql: String = {
    val matchSum = (0 until LshK)
      .map(i => s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH ${LlmQueries.lshCtes(LshK, LshBands)},
       |est AS (SELECT p.doc_a, p.doc_b, ($matchSum) * 125000 AS est_ppm
       |        FROM pairs p JOIN sig a ON a.doc_id = p.doc_a
       |                     JOIN sig b ON b.doc_id = p.doc_b),
       |sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
       |inter AS (SELECT p.doc_a, p.doc_b, count(*) AS n_inter
       |          FROM pairs p
       |          JOIN sh a ON a.doc_id = p.doc_a
       |          JOIN sh b ON b.doc_id = p.doc_b AND a.shingle = b.shingle
       |          GROUP BY p.doc_a, p.doc_b),
       |ex AS (SELECT i.doc_a, i.doc_b,
       |              (n_inter * 1000000) // (sa.set_size + sb.set_size - n_inter) AS jac_ppm
       |       FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
       |                    JOIN sizes sb ON sb.doc_id = i.doc_b),
       |err AS (SELECT abs(e.est_ppm - x.jac_ppm) AS err_ppm
       |        FROM est e JOIN ex x ON x.doc_a = e.doc_a AND x.doc_b = e.doc_b)
       |SELECT (err_ppm // 100000)::BIGINT AS err_bucket,
       |       count(*)::BIGINT AS n_pairs
       |FROM err GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** TEXTRANK keyword authority (Mihalcea & Tarau 2004) — PageRank over
    * the adjacent-token co-occurrence graph, restricted to the
    * content-bounded vocabulary of tokens appearing ≥ 20 times as a
    * bigram endpoint (31 nodes on this corpus at EVERY scale factor —
    * Zipf makes the band content-bounded, not corpus-bounded). Re-uses
    * [[graft.operators.PageRank.ranksFp]]'s all-BIGINT five-round power
    * iteration, so the oracle unrolls the identical rounds and the ranks
    * are hash-exact (the q129 pattern, on a graph built from text).
    * Scale shapes: one corpus scan → per-document lead-window bigrams;
    * vocabulary ids come from a row_number over the ALREADY-REDUCED
    * vocab frame (reduced-frame window license) and broadcast into the
    * edge build; the iteration graph is |vocab|-bounded. */
  val q300_textrank: Q = (s, d) => {
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val tk = Tables.documents(s, d).select(col("doc_id"),
      posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "u")))
    val bg = tk.withColumn("v", lead(col("u"), 1).over(byPos))
      .where(col("v").isNotNull && col("u") =!= col("v"))
      .select(col("u"), col("v"))
      .localCheckpoint(true) // consumers: vocab counts + edge build
    val vocab = bg.select(col("u").as("tok"))
      .union(bg.select(col("v").as("tok")))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .where(col("freq") >= 20L)
      .select(col("tok"),
        row_number().over(Window.orderBy(col("tok"))).cast("long").as("id"))
      .localCheckpoint(true) // consumers: two edge attaches + rank join
    val e1 = bg
      .join(broadcast(vocab.select(col("tok").as("u"), col("id").as("src"))),
        Seq("u"))
      .join(broadcast(vocab.select(col("tok").as("v"), col("id").as("dst"))),
        Seq("v"))
      .select(col("src"), col("dst")).distinct()
    val und = e1.union(e1.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    graft.operators.PageRank.ranksFp(und, "src", "dst", iters = 5)
      .join(broadcast(vocab), Seq("id"))
      .select(col("tok"), col("r_fp"))
      .orderBy(col("r_fp").desc, col("tok"))
      .limit(20)
  }

  val q300_sql: String = {
    val rounds = (1 to 5).map { i =>
      s"""r$i AS (
         |  SELECT nodes.id,
         |         base + (85 * coalesce(s.s, 0)) // 100 AS r_fp
         |  FROM nodes CROSS JOIN params
         |  LEFT JOIN (
         |    SELECT e.dst AS id, sum(p.r_fp // deg.deg) AS s
         |    FROM e JOIN deg ON deg.src = e.src
         |         JOIN r${i - 1} p ON p.id = e.src
         |    GROUP BY e.dst) s ON s.id = nodes.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH tk0 AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\\W+'),
       |                x -> x <> '') AS ws
       |  FROM documents),
       |tk AS (SELECT doc_id, unnest(ws) AS u,
       |         unnest(range(1, len(ws) + 1)) AS pos FROM tk0),
       |bg AS (SELECT u, v FROM (
       |         SELECT u, lead(u, 1) OVER (PARTITION BY doc_id
       |                                    ORDER BY pos) AS v
       |         FROM tk) WHERE v IS NOT NULL AND u <> v),
       |vc AS (SELECT tok FROM (
       |         SELECT tok, count(*) AS freq FROM (
       |           SELECT u AS tok FROM bg UNION ALL SELECT v FROM bg)
       |         GROUP BY 1) WHERE freq >= 20),
       |ids AS (SELECT tok, row_number() OVER (ORDER BY tok) AS id FROM vc),
       |e1 AS (SELECT DISTINCT a.id AS src, b.id AS dst
       |       FROM bg JOIN ids a ON a.tok = bg.u
       |               JOIN ids b ON b.tok = bg.v),
       |e AS (SELECT src, dst FROM e1 UNION SELECT dst, src FROM e1),
       |nodes AS (SELECT DISTINCT src AS id FROM e),
       |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
       |params AS (
       |  SELECT (1000000000000 // count(*)) * 15 // 100 AS base FROM nodes),
       |r0 AS (
       |  SELECT id, 1000000000000 // (SELECT count(*) FROM nodes) AS r_fp
       |  FROM nodes),
       |$rounds
       |SELECT ids.tok, cast(r_fp AS BIGINT) AS r_fp
       |FROM r5 JOIN ids USING (id)
       |ORDER BY r_fp DESC, tok LIMIT 20""".stripMargin
  }

  /** Positional PROXIMITY search — the within-k companion to q256's
    * consecutive-phrase scan: documents where "fast" and "sort" occur
    * within 3 token positions IN EITHER ORDER, with the pair count and
    * the minimum distance. The unordered-window operator a
    * quote-less search box runs. Shapes: two df-bounded postings lists
    * equi-joined on doc_id with a row-local distance filter — posting
    * size bounds every join input, never a document self-join. */
  val q301_proximity_search: Q = (s, d) => {
    val tk = Tables.documents(s, d).select(col("doc_id"),
      posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "term")))
    val pa = tk.where(col("term") === "fast")
      .select(col("doc_id"), col("pos").as("pa"))
    val pb = tk.where(col("term") === "sort")
      .select(col("doc_id"), col("pos").as("pb"))
    pa.join(pb, Seq("doc_id"))
      .where(abs(col("pa") - col("pb")) <= 3)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"),
        min(abs(col("pa") - col("pb"))).cast("long").as("min_dist"))
      .orderBy(col("doc_id"))
  }

  val q301_sql: String =
    """WITH tk0 AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\W+'),
      |                x -> x <> '') AS ws
      |  FROM documents),
      |tk AS (SELECT doc_id, unnest(ws) AS term,
      |         unnest(range(1, len(ws) + 1)) AS pos FROM tk0),
      |a AS (SELECT doc_id, pos AS pa FROM tk WHERE term = 'fast'),
      |b AS (SELECT doc_id, pos AS pb FROM tk WHERE term = 'sort')
      |SELECT a.doc_id, count(*)::BIGINT AS n_pairs,
      |       min(abs(pa - pb))::BIGINT AS min_dist
      |FROM a JOIN b USING (doc_id) WHERE abs(pa - pb) <= 3
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Multivariate OLS via exact Cramer normal equations, per source —
    * the 2-feature upgrade of q175's single-regressor trend fit: fit
    * n_chars ~ ws_tokens + distinct-token types (a real fit with
    * residuals — β₁ lands at ≈ 5.3 chars/token and β₂ carries the
    * repeated-vocabulary correction) with one partial-aggregated pass
    * over nine DECIMAL(38,0) sufficient statistics (n, Σx₁, Σx₂, Σy,
    * Σx₁², Σx₁x₂, Σx₂², Σx₁y, Σx₂y), then solve the 3×3 normal system
    * by cofactor determinants — β_i = det(A_i)/det(A) emitted as one
    * exact integral `div` to ppm, no float linear algebra anywhere (the
    * in-engine "fit a cheap feature→cost model per shard" primitive: at
    * 100 TB the scan is the only corpus-sized stage and the solve is
    * 9 numbers per group). Collinear groups (det A = 0) yield NULL via
    * nullif, matching the oracle. Headroom: det terms are triple
    * products of the sums — < 10³⁸ holds below ~10⁷ docs/source at
    * these feature scales; past that, center features or subsample the
    * normal-equation pass. */
  val q308_ols_multi: Q = (s, d) =>
    olsBySource(Tables.documents(s, d)).orderBy(col("source"))

  /** The q308 fit as a reusable frame — `(source, n, b0_ppm, b1_ppm,
    * b2_ppm)` — shared with the q310 release-gate composition. */
  private[queries] def olsBySource(docs: DataFrame): DataFrame = {
    val doc = docs.select(col("source"),
      TextAnalysis.wsTokenCount(col("text")).cast("decimal(38,0)").as("x1"),
      size(array_distinct(TextAnalysis.tokens(col("text"))))
        .cast("decimal(38,0)").as("x2"),
      col("n_chars").cast("decimal(38,0)").as("y"))
    doc.groupBy(col("source")).agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
        sum(col("y")).as("sy"),
        sum(expr("x1 * x1")).as("s11"), sum(expr("x1 * x2")).as("s12"),
        sum(expr("x2 * x2")).as("s22"),
        sum(expr("x1 * y")).as("s1y"), sum(expr("x2 * y")).as("s2y"))
      .withColumn("det_a", expr(
        "n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)" +
          " + s2 * (s1 * s12 - s11 * s2)"))
      .withColumn("det_0", expr(
        "sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)" +
          " + s2 * (s1y * s12 - s11 * s2y)"))
      .withColumn("det_1", expr(
        "n * (s1y * s22 - s2y * s12) - sy * (s1 * s22 - s12 * s2)" +
          " + s2 * (s1 * s2y - s1y * s2)"))
      .withColumn("det_2", expr(
        "n * (s11 * s2y - s12 * s1y) - s1 * (s1 * s2y - s1y * s2)" +
          " + sy * (s1 * s12 - s11 * s2)"))
      .select(col("source"), col("n").cast("long").as("n"),
        expr("cast((det_0 * 1000000) div nullif(det_a, 0) as bigint)")
          .as("b0_ppm"),
        expr("cast((det_1 * 1000000) div nullif(det_a, 0) as bigint)")
          .as("b1_ppm"),
        expr("cast((det_2 * 1000000) div nullif(det_a, 0) as bigint)")
          .as("b2_ppm"))
  }

  val q308_sql: String =
    """WITH t AS (SELECT source,
      |    len(list_filter(string_split_regex(text, '\s+'),
      |        x -> x <> ''))::HUGEINT AS x1,
      |    len(list_distinct(list_filter(string_split_regex(lower(text),
      |        '\W+'), x -> x <> '')))::HUGEINT AS x2,
      |    n_chars::HUGEINT AS y
      |  FROM documents),
      |a AS (SELECT source, count(*)::HUGEINT AS n,
      |    sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
      |    sum(x1 * x1) AS s11, sum(x1 * x2) AS s12, sum(x2 * x2) AS s22,
      |    sum(x1 * y) AS s1y, sum(x2 * y) AS s2y
      |  FROM t GROUP BY 1),
      |dets AS (SELECT source, n,
      |    n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
      |      + s2 * (s1 * s12 - s11 * s2) AS det_a,
      |    sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
      |      + s2 * (s1y * s12 - s11 * s2y) AS det_0,
      |    n * (s1y * s22 - s2y * s12) - sy * (s1 * s22 - s12 * s2)
      |      + s2 * (s1 * s2y - s1y * s2) AS det_1,
      |    n * (s11 * s2y - s12 * s1y) - s1 * (s1 * s2y - s1y * s2)
      |      + sy * (s1 * s12 - s11 * s2) AS det_2
      |  FROM a)
      |SELECT source, n::BIGINT AS n,
      |  ((det_0 * 1000000) // nullif(det_a, 0))::BIGINT AS b0_ppm,
      |  ((det_1 * 1000000) // nullif(det_a, 0))::BIGINT AS b1_ppm,
      |  ((det_2 * 1000000) // nullif(det_a, 0))::BIGINT AS b2_ppm
      |FROM dets ORDER BY source""".stripMargin


  /** Edit-distance fuzzy-match join — q209's sorted-neighborhood
    * blocking verified by LEVENSHTEIN distance instead of set Jaccard:
    * the entity-resolution form for strings where token sets lie
    * (transpositions, small in-place edits). Candidates from the same
    * 5-wide window over the (first-4-tokens, doc_id) sort order —
    * (w−1)-linear, never all-pairs — then one row-local banded-DP
    * verify per candidate over the 80-char prefix: Spark's thresholded
    * `levenshtein(l, r, k)` runs O(len·k) and returns −1 past k, so a
    * non-match costs the band, not the full DP matrix (the oracle
    * computes the full distance and filters — identical surviving
    * pairs by construction). Empirically the candidate distances are
    * bimodal (≤ 12 or > 30), so the 12 cutoff sits in the gap. */
  val q309_edit_distance_join: Q = (s, d) =>
    editDistancePairs(Tables.documents(s, d))
      .select(col("doc_a"), col("doc_b"), col("dist"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** q309's blocking + banded verify as a reusable frame — `(doc_a,
    * doc_b, dist, sa, sb)`, sources attached for per-source load
    * accounting; shared with the q310 release gate so the w = 5 window
    * and the k = 12 cutoff can't silently de-sync between them. */
  private[queries] def editDistancePairs(docs: DataFrame): DataFrame = {
    val keyed = docs
      .select(col("doc_id"), substring(col("text"), 1, 80).as("pfx"),
        array_join(slice(TextAnalysis.tokens(col("text")), 1, 4), " ")
          .as("sk"),
        col("source"))
      .localCheckpoint(true) // consumers: blocking + two verify attaches
    val cands = graft.operators.SortedNeighborhood.pairs(
      keyed.select(col("doc_id"), col("sk")), "doc_id", col("sk"), w = 5)
    cands.select(col("doc_a"), col("doc_b"))
      .join(keyed.select(col("doc_id").as("doc_a"), col("pfx").as("pa"),
        col("source").as("sa")), Seq("doc_a"))
      .join(keyed.select(col("doc_id").as("doc_b"), col("pfx").as("pb"),
        col("source").as("sb")), Seq("doc_b"))
      .withColumn("dist", levenshtein(col("pa"), col("pb"), 12))
      .where(col("dist") >= 0)
      .select(col("doc_a"), col("doc_b"), col("dist"), col("sa"), col("sb"))
  }

  val q309_sql: String =
    """WITH k AS (SELECT doc_id, substr(text, 1, 80) AS pfx,
      |    array_to_string((list_filter(string_split_regex(lower(text),
      |        '\W+'), x -> x <> ''))[1:4], ' ') AS sk
      |  FROM documents),
      |r AS (SELECT doc_id, row_number() OVER (ORDER BY sk, doc_id) AS r
      |      FROM k),
      |cand AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
      |                greatest(a.doc_id, b.doc_id) AS doc_b
      |         FROM r a JOIN r b ON b.r BETWEEN a.r + 1 AND a.r + 4),
      |v AS (SELECT doc_a, doc_b,
      |        levenshtein(ka.pfx, kb.pfx)::BIGINT AS dist
      |      FROM cand JOIN k ka ON ka.doc_id = cand.doc_a
      |                JOIN k kb ON kb.doc_id = cand.doc_b)
      |SELECT doc_a, doc_b, dist FROM v WHERE dist <= 12
      |ORDER BY doc_a, doc_b""".stripMargin
}
