package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.llm.{AllPairs, Bpe, CmsAgg, Curation, Dedup, Hll, Importance, Ivf, Multimodal, Pq, Quantize, RandomProjection, RollingHash, Sampling, SemDedup, SetJoin, Similarity, Sketch, TextAnalysis}

/** Oracle-checked queries for the LLM-training-data operators
  * (`graft.llm.*`) over the driver's `documents` / `embeddings` tables.
  *
  * The repetitive oracle SQL (k minhash aggregates, 16 simhash bit votes,
  * the cosine fold) is GENERATED by the same Scala parameters that drive
  * the Spark side, so the two can't drift.
  *
  * Cross-engine parity notes:
  *  - tokenization is `lower → split \W+ → drop empties` on both engines
  *    (Java regex and RE2 agree on ASCII `\W`);
  *  - hex digests are lowercase md5 on both;
  *  - the cosine dot product is an IN-ORDER left fold of double products on
  *    both sides (`aggregate(zip_with(…))` vs `list_reduce(list_transform)`),
  *    so doubles match bit-for-bit;
  *  - counts are BIGINT on both sides.
  */
object LlmQueries extends Registry {

  // shared oracle SQL fragments ------------------------------------------

  /** DuckDB tokenize + 3-shingle CTEs over `documents` (matches
    * [[TextAnalysis.tokens]] / [[TextAnalysis.shingles3]]). */
  private[queries] val shingleCtes: String =
    """toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS ts FROM documents),
      |sh AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
      |       FROM toks, UNNEST(range(1, len(ts)-1)) AS t(i) WHERE len(ts) >= 3)""".stripMargin


  /** DuckDB minhash signature + LSH band-bucket CTEs for k hashes in
    * `bands` bands (matches [[Dedup.minhashSignatures]] /
    * [[Dedup.lshCandidatePairs]]). */
  private[queries] def lshCtes(k: Int, bands: Int, maxBucket: Int = 1000): String =
    lshCtesFrom(shingleCtes, k, bands, maxBucket)

  /** Same signature/band/bucket/pair pipeline over ANY element CTE chain
    * ending in `sh(doc_id, shingle)` — q277's weighted elements reuse it
    * with a different `sh`. */
  private[queries] def lshCtesFrom(shCtes: String, k: Int, bands: Int,
                                   maxBucket: Int = 1000): String = {
    val rpb = k / bands
    val hashAggs = (0 until k)
      .map(s => s"min(substr(md5('$s|' || shingle),1,16)) AS h$s").mkString(", ")
    val bandSel = (0 until bands).map { b =>
      val key = (0 until rpb).map(r => s"h${b * rpb + r}").mkString(" || ")
      s"SELECT doc_id, $b AS band, $key AS bkey FROM sig"
    }.mkString(" UNION ALL ")
    s"""$shCtes,
       |sig AS (SELECT doc_id, $hashAggs FROM sh GROUP BY doc_id),
       |allbuckets AS ($bandSel),
       |buckets AS (SELECT doc_id, band, bkey FROM (
       |  SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bsz FROM allbuckets)
       |  WHERE bsz <= $maxBucket),
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |          FROM buckets a JOIN buckets b
       |            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)""".stripMargin
  }


  /** DuckDB in-order double dot-product fold (matches [[Similarity.dot]]:
    * Spark's `aggregate` starts at 0.0, and 0.0 + x == x bit-for-bit for
    * every product the testdata can produce, so the first-element-seeded
    * `list_reduce` agrees). */
  private[queries] def sqlDot(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a)+1), i -> $a[i]::DOUBLE * $b[i]::DOUBLE), (x,y) -> x + y)"


  private[queries] def sqlCosine(a: String, b: String): String =
    s"(${sqlDot(a, b)} / (sqrt(${sqlDot(a, a)}) * sqrt(${sqlDot(b, b)})))"


  // ------------------------------------------------------------ exact dedup
  /** Exact dedup by content hash: one map-side-combined groupBy shuffle. */
  val q19_dedup_exact: Q = (s, d) =>
    Dedup.dedupExact(Tables.documents(s, d), "text", "doc_id")
      .orderBy(col("content_hash"))

  val q19_sql: String =
    """SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id, count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin


  // ------------------------------------------------------------- text stats
  /** Per-document token/length/punctuation stats — embarrassingly parallel
    * per-row expressions, zero shuffles beyond the final sort. */
  val q20_text_stats: Q = (s, d) => {
    val doc = Tables.documents(s, d)
    val t = col("text")
    doc.select(col("doc_id"),
        length(t).cast("long").as("n_chars_calc"),
        TextAnalysis.wsTokenCount(t).as("ws_tokens"),
        TextAnalysis.bpeTokenCount(t).as("bpe_tokens"),
        TextAnalysis.punctRatio(t).as("punct_ratio"))
      .orderBy(col("doc_id"))
  }

  val q20_sql: String =
    """SELECT doc_id,
      |       length(text) AS n_chars_calc,
      |       len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS ws_tokens,
      |       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens,
      |       CASE WHEN length(text) > 0
      |            THEN (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')))::DOUBLE / length(text)
      |            ELSE 0.0 END AS punct_ratio
      |FROM documents ORDER BY doc_id""".stripMargin


  // -------------------------------------------------------------- language ID
  /** Stopword-profile language ID: argmax of 5 per-language hit counts,
    * ties to profile order, all-zero → 'und'. */
  val q21_lang_id: Q = (s, d) => {
    val doc = Tables.documents(s, d)
    TextAnalysis.withLangId(doc, "text", "lang_detected")
      .groupBy(col("lang_detected"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang_detected"))
  }

  val q21_sql: String = {
    val scores = TextAnalysis.langProfiles.map { case (lang, pat) =>
      // RE2 needs no escaping changes: the profiles are plain \b alternations
      s"len(regexp_extract_all(lower(text), '$pat')) AS s_$lang"
    }.mkString(", ")
    val langs = TextAnalysis.langProfiles.map(_._1)
    val best = s"greatest(${langs.map("s_" + _).mkString(", ")})"
    val arms = langs.map(l => s"WHEN s_$l = best AND best > 0 THEN '$l'").mkString(" ")
    s"""WITH scored AS (SELECT doc_id, $scores FROM documents),
       |named AS (SELECT doc_id, CASE $arms ELSE 'und' END AS lang_detected
       |          FROM (SELECT *, $best AS best FROM scored))
       |SELECT lang_detected, count(*) AS n FROM named
       |GROUP BY 1 ORDER BY lang_detected""".stripMargin
  }


  // ---------------------------------------------------------- quality score
  /** Composite quality score + 64-bit fingerprint per document. */
  val q22_quality_fingerprint: Q = (s, d) => {
    val doc = Tables.documents(s, d)
    doc.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.fingerprint64(col("text")).as("fp64"))
      .orderBy(col("doc_id"))
  }

  val q22_sql: String =
    """WITH parts AS (
      |  SELECT doc_id,
      |         substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 16) AS fp64,
      |         least(length(text)::DOUBLE / 400.0, 1.0) AS len_score,
      |         CASE WHEN length(text) > 0
      |              THEN (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')))::DOUBLE / length(text)
      |              ELSE 0.0 END AS punct_ratio,
      |         len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS total_ws,
      |         len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|was|for|with|that)\b'))
      |         + len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del|las|por)\b'))
      |         + len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|von|mit|den|im|für)\b'))
      |         + len(regexp_extract_all(lower(text), '\b(le|la|les|des|et|est|un|une|du|dans)\b'))
      |         + len(regexp_extract_all(lower(text), '\b(de|shi|le|zai|wo|you|he|ta|zhe|men)\b')) AS stop_hits
      |  FROM documents)
      |SELECT doc_id,
      |       len_score * 0.4
      |       + (1.0 - least(punct_ratio * 4.0, 1.0)) * 0.3
      |       + least((CASE WHEN total_ws > 0 THEN stop_hits::DOUBLE / total_ws ELSE 0.0 END) * 5.0, 1.0) * 0.3 AS quality,
      |       fp64
      |FROM parts ORDER BY doc_id""".stripMargin


  // --------------------------------------------------------- MinHash + LSH
  // package-visible: q123's streaming certification replays the SAME params
  private[queries] val LshK = 8

  private[queries] val LshBands = 4


  /** MinHash-LSH near-dup candidate pairs: shingle → k-hash signature (ONE
    * groupBy) → band buckets → bucket self-join. Never all-pairs. */
  val q23_lsh_candidates: Q = (s, d) =>
    DocLsh.pairs(s, d) // shared staged pipeline (see [[DocLsh]])
      .orderBy(col("doc_a"), col("doc_b"))

  val q23_sql: String =
    s"""WITH ${lshCtes(LshK, LshBands)}
       |SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b""".stripMargin


  /** Exact n-gram Jaccard verification over the LSH candidates only —
    * a shingle equi-join on the (small) candidate set, no cross product. */
  val q24_ngram_jaccard: Q = (s, d) => {
    // staged shingles/pairs (see [[DocLsh]]): every branch re-scans
    // scratch parquet instead of re-deriving the pipeline
    val shingled = DocLsh.shingles(s, d)
    val pairs = DocLsh.pairs(s, d)
    Dedup.ngramJaccard(shingled, pairs)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val q24_sql: String =
    s"""WITH ${lshCtes(LshK, LshBands)},
       |sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
       |inter AS (SELECT p.doc_a, p.doc_b, count(*) AS n_inter
       |          FROM pairs p
       |          JOIN sh a ON a.doc_id = p.doc_a
       |          JOIN sh b ON b.doc_id = p.doc_b AND a.shingle = b.shingle
       |          GROUP BY p.doc_a, p.doc_b)
       |SELECT i.doc_a, i.doc_b,
       |       i.n_inter::DOUBLE / (sa.set_size + sb.set_size - i.n_inter) AS jaccard
       |FROM inter i
       |JOIN sizes sa ON sa.doc_id = i.doc_a
       |JOIN sizes sb ON sb.doc_id = i.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin


  // ---------------------------------------------------------------- SimHash
  /** 32 bits / 8-bit bands: 256 bucket values per band keeps the band
    * self-join sparse (16-bit/4-bit banding measured 5× slower — only 16
    * buckets per band → quadratic bucket blowup). */
  // shared with StreamingQueries' q146 certification (like LshK/LshBands)
  val SimhashBits = 32

  val SimhashBandBits = 8


  /** 16-bit SimHash fingerprints: per-bit majority vote over distinct-token
    * hashes — one groupBy with 16 sum aggregates, a single shuffle. */
  /** DuckDB CTE chain ending in `fp(doc_id, simhash)` — matches
    * [[Dedup.simhash]] bit-for-bit (same nibble positions, same votes;
    * same 8-vs-16-hex vote-prefix switch at 32 bits). For bits = 64 the
    * bit-63 weight is the BIGINT min value and the fp sum runs in DuckDB
    * HUGEINT before the final exact BIGINT cast — the same two's-
    * complement reading the Spark side produces. */
  // non-private: StreamingQueries' q146 oracle reuses the same CTEs
  def simhashCtes(bits: Int, base: String = "documents"): String = {
    val hexLen = if (bits <= 32) 8 else 16
    val hexArms = "0123456789abcdef".zipWithIndex
      .map { case (c, v) => s"WHEN '$c' THEN $v" }.mkString(" ")
    def nib(pos: Int) = s"(CASE substr(h, $pos, 1) $hexArms END)"
    val votes = (0 until bits).map { b =>
      val bit = s"((${nib(hexLen - b / 4)} >> ${b % 4}) & 1)"
      s"sum(CASE WHEN $bit = 1 THEN 1 ELSE -1 END) AS v$b"
    }.mkString(", ")
    val fp = (0 until bits)
      .map(b => s"CASE WHEN v$b >= 0 THEN (${1L << b})::HUGEINT ELSE 0::HUGEINT END")
      .mkString(" + ")
    s"""words AS (
       |  SELECT DISTINCT doc_id, w FROM (
       |    SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')) AS w
       |    FROM $base)),
       |hashed AS (SELECT doc_id, substr(md5(w), 1, $hexLen) AS h FROM words),
       |votes AS (SELECT doc_id, $votes FROM hashed GROUP BY doc_id),
       |fp AS (SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM votes)""".stripMargin
  }


  val q25_simhash: Q = (s, d) =>
    DocLsh.simhashFp(s, d, SimhashBits) // shared staged fingerprints
      .orderBy(col("doc_id"))

  val q25_sql: String =
    s"""WITH ${simhashCtes(SimhashBits)}
       |SELECT doc_id, simhash FROM fp ORDER BY doc_id""".stripMargin


  /** SimHash banding near-dup candidates: 4 bands × 8 bits, Hamming ≤ 3. */
  val q31_simhash_neardup: Q = (s, d) =>
    Dedup.simhashNearDupPairsFromFp(DocLsh.simhashFp(s, d, SimhashBits),
        SimhashBits, SimhashBandBits, 3)
      .orderBy(col("doc_a"), col("doc_b"))

  val q31_sql: String = {
    val bandBits = SimhashBandBits
    val nBands = SimhashBits / bandBits
    val bandSel = (0 until nBands).map { b =>
      s"SELECT doc_id, simhash, $b AS band, (simhash >> ${b * bandBits}) & ${(1L << bandBits) - 1} AS bkey FROM fp"
    }.mkString(" UNION ALL ")
    s"""WITH ${simhashCtes(SimhashBits)},
       |allbuckets AS ($bandSel),
       |buckets AS (SELECT doc_id, simhash, band, bkey FROM (
       |  SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bsz FROM allbuckets)
       |  WHERE bsz <= 1000),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |                bit_count(xor(a.simhash, b.simhash)) AS hamming
       |         FROM buckets a JOIN buckets b
       |           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
       |FROM cand WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin
  }


  // ------------------------------------------- embedding near-dup (sign LSH)
  private[queries] val SignBits = 4

  private[queries] val NearDupThreshold = 0.15


  /** Karp–Rabin rolling-hash fingerprints via the native codegen
    * [[RollingHash]] expression — FULL oracle since round 4: DuckDB's
    * HUGEINT (int128) carries the (h·257 + c) mod 2^61−1 recurrence
    * exactly as a `list_reduce` over the normalized text's code points.
    * Caveat carried with the oracle: the JVM side hashes UTF-16 code
    * UNITS while `unicode()` yields code POINTS — identical for BMP text,
    * and the corpus is ASCII (max code point 121, checked); a non-BMP
    * deployment would pin this via scalatest goldens instead (which also
    * remain in `LlmSpec`). */
  val q30_rolling_fingerprint: Q = (s, d) =>
    Tables.widen(Tables.documents(s, d))
      .select(col("doc_id"),
        RollingHash.rollingHashNative(TextAnalysis.normalizedText(col("text"))).as("rhash"))
      .orderBy(col("doc_id"))

  val q30_sql: String =
    """SELECT doc_id,
      |  CAST(COALESCE(list_reduce(
      |    list_prepend(0::HUGEINT,
      |      list_transform(range(1, length(nt) + 1), i -> unicode(nt[i])::HUGEINT)),
      |    (h, c) -> (h * 257 + c) % 2305843009213693951), 0) AS BIGINT) AS rhash
      |FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin


  /** One Lloyd round as SQL: assign every vector to its argmax-cosine
    * centroid from `prev` (ties to the lower cell, like NearestCell's
    * packed order), then recompute per-cell elementwise means with the
    * SAME operation order as `Ivf.fit` — parallel-unnest the vector with
    * its positions, CAST(sum(DECIMAL(27,12)) AS DOUBLE) / count per
    * (cell, position), reassemble ordered by position. Empty cells simply
    * drop out, exactly as in the Spark groupBy. */
  private[queries] def lloydRoundSql(prev: String, n: Int): String =
    s"""a$n AS (
       |  SELECT e.vec_id, e.embedding, c.cell,
       |         row_number() OVER (PARTITION BY e.vec_id
       |                            ORDER BY ${sqlCosine("e.embedding", "c.centroid")} DESC, c.cell) AS rn
       |  FROM embeddings e CROSS JOIN $prev c),
       |asg$n AS (SELECT vec_id, embedding, cell FROM a$n WHERE rn = 1),
       |d$n AS (SELECT cell, unnest(embedding)::DOUBLE AS v,
       |               unnest(range(1, len(embedding) + 1)) AS j
       |        FROM asg$n),
       |c$n AS (
       |  SELECT cell, list(m ORDER BY j) AS centroid FROM (
       |    SELECT cell, j,
       |           CAST(sum(CAST(v AS DECIMAL(27,12))) AS DOUBLE) / count(*) AS m
       |    FROM d$n GROUP BY cell, j)
       |  GROUP BY cell)""".stripMargin

  /** q56's fixed-centroid IVF pipeline as oracle CTEs ending in
    * `ivfranked` — shared by q56 and the q106 recall audit so the two
    * cannot drift. */
  private[queries] def ivfFixedCtes: String = {
    val cos = sqlCosine("e.embedding", "c.centroid")
    s"""cents AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
       |         list_transform(embedding, x -> x::DOUBLE) AS centroid
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
       |asg0 AS (
       |  SELECT e.vec_id, e.embedding, c.cell, $cos AS s
       |  FROM embeddings e, cents c),
       |assigned AS (
       |  SELECT vec_id AS neighbor_id, embedding AS cvec, cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
       |    FROM asg0)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, embedding AS qvec, cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
       |    FROM asg0 WHERE vec_id < 5)
       |  WHERE rn <= 2),
       |ivfscored AS (
       |  SELECT p.query_id, a.neighbor_id, ${sqlCosine("p.qvec", "a.cvec")} AS cos_sim
       |  FROM assigned a JOIN probes p USING (cell)
       |  WHERE p.query_id <> a.neighbor_id),
       |ivfranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM ivfscored)""".stripMargin
  }


  // ------------------------------------------------------- dedup clustering
  /** Near-dup clustering end-to-end: LSH candidate pairs → connected
    * components → (doc_id, cluster_id = min doc in the component). This is
    * the dedup DECISION step — keep cluster_id, drop the rest. The oracle
    * reproduces the fixpoint with a recursive CTE (transitive closure +
    * min-reachable), so the iterative Spark propagation is hash-checked
    * exactly. */
  val q61_dedup_clusters: Q = (s, d) => {
    val pairs = DocLsh.pairs(s, d)
    graft.operators.ConnectedComponents.components(pairs, "doc_a", "doc_b")
      .select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  val q61_sql: String =
    s"""WITH RECURSIVE ${lshCtes(LshK, LshBands)},
       |und AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |        UNION SELECT doc_b, doc_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM und
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN und e ON r.dst = e.src)
       |SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
       |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin


  // -------------------------------------------------------------- redaction
  /** PII-style scrub: emails → <EMAIL>, URLs → <URL>, digit runs → <NUM>;
    * fingerprint of the redacted text per doc. */
  val q51_redaction: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        md5(TextAnalysis.redact(col("text"))).as("redacted_fp"),
        length(TextAnalysis.redact(col("text"))).cast("long").as("redacted_len"))
      .orderBy(col("doc_id"))

  val q51_sql: String =
    """WITH red AS (
      |  SELECT doc_id,
      |         regexp_replace(
      |           regexp_replace(
      |             regexp_replace(text,
      |               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |             'https?://[^\s]+', '<URL>', 'g'),
      |           '[0-9]+', '<NUM>', 'g') AS r
      |  FROM documents)
      |SELECT doc_id, md5(r) AS redacted_fp, length(r) AS redacted_len
      |FROM red ORDER BY doc_id""".stripMargin


  // --------------------------------------------------------------- chunking
  private[queries] val ChunkSize = 100

  private[queries] val ChunkOverlap = 20


  /** Token-window chunking (100-token chunks, 20-token overlap): one row
    * per chunk with its token count and content fingerprint. */
  val q52_chunking: Q = (s, d) =>
    TextAnalysis.chunk(Tables.documents(s, d), "text", "doc_id", ChunkSize, ChunkOverlap)
      .orderBy(col("doc_id"), col("chunk_id"))

  val q52_sql: String = {
    val stride = ChunkSize - ChunkOverlap
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS ts
       |  FROM documents),
       |nonempty AS (SELECT * FROM toks WHERE len(ts) > 0),
       |chunks AS (
       |  SELECT doc_id, (u.s - 1) / $stride + 1 AS chunk_id,
       |         ts[u.s : u.s + ${ChunkSize - 1}] AS ck
       |  FROM nonempty,
       |       UNNEST(range(1, greatest(len(ts) - $ChunkOverlap, 1) + 1, $stride)) AS u(s))
       |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       |       len(ck) AS n_chunk_tokens,
       |       md5(array_to_string(ck, ' ')) AS chunk_fp
       |FROM chunks ORDER BY doc_id, chunk_id""".stripMargin
  }


  /** Classic 64-bit (Charikar-width) SimHash fingerprints — the width real
    * dedup systems key on. Same single-shuffle bit-vote aggregation as
    * q25's 32-bit variant; the only deltas are the 16-hex vote prefix and
    * the bit-63 two's-complement weight (see [[Dedup.simhash]]). */
  val q90_simhash64: Q = (s, d) =>
    DocLsh.simhashFp(s, d, 64) // shared staged fingerprints
      .orderBy(col("doc_id"))

  val q90_sql: String =
    s"""WITH ${simhashCtes(64)}
       |SELECT doc_id, simhash FROM fp ORDER BY doc_id""".stripMargin


  /** Multi-probe (Hamming-ball) SimHash-64 near-dup candidates: 8 bands ×
    * 8 bits probed with all 1-bit band-key perturbations — candidate-
    * complete to Hamming ≤ 15 where exact banding (q31's shape) stops at 7.
    * maxHamming=10 exercises the beyond-exact-banding radius; the oracle
    * replays the same probe expansion in SQL. */
  val q142_simhash_multiprobe: Q = (s, d) =>
    Dedup.simhashMultiProbePairsFromFp(DocLsh.simhashFp(s, d, 64),
        64, 8, maxHamming = 10)
      .orderBy(col("doc_a"), col("doc_b"))

  val q142_sql: String = {
    val bandBits = 8
    val nBands = 64 / bandBits
    val bandSel = (0 until nBands).map { b =>
      s"SELECT doc_id, simhash, $b AS band, (simhash >> ${b * bandBits}) & ${(1L << bandBits) - 1} AS bkey FROM fp"
    }.mkString(" UNION ALL ")
    val flipVals = (0L +: (0 until bandBits).map(i => 1L << i).toSeq)
      .map(v => s"($v)").mkString(", ")
    s"""WITH ${simhashCtes(64)},
       |allbuckets AS ($bandSel),
       |idx AS (SELECT doc_id, simhash, band, bkey FROM (
       |  SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bsz FROM allbuckets)
       |  WHERE bsz <= 1000),
       |probes AS (SELECT a.doc_id, a.simhash, a.band, xor(a.bkey, f.flip) AS bkey
       |           FROM allbuckets a, (VALUES $flipVals) AS f(flip)),
       |cand AS (SELECT DISTINCT p.doc_id AS doc_a, i.doc_id AS doc_b,
       |                bit_count(xor(p.simhash, i.simhash)) AS hamming
       |         FROM probes p JOIN idx i
       |           ON p.band = i.band AND p.bkey = i.bkey AND p.doc_id < i.doc_id)
       |SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
       |FROM cand WHERE hamming <= 10 ORDER BY doc_a, doc_b""".stripMargin
  }


  /** Wide-band multi-probe completeness certification: 16-bit bands are
    * what a 500k+-doc corpus NEEDS (8-bit bands have only 256 keys/band —
    * the ScaleStress100-measured capacity wall), but exact banding at 4
    * wide bands is only complete to Hamming 3; 1-bit multi-probe restores
    * completeness to 7. The oracle is a LITERAL brute-force all-pairs
    * Hamming scan in DuckDB — the bucketed probe expansion must reproduce
    * it pair-for-pair. */
  val q145_multiprobe_recall: Q = (s, d) =>
    Dedup.simhashMultiProbePairsFromFp(DocLsh.simhashFp(s, d, 64),
        64, 16, maxHamming = 7)
      .orderBy(col("doc_a"), col("doc_b"))

  val q145_sql: String =
    s"""WITH ${simhashCtes(64)}
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 7
       |ORDER BY doc_a, doc_b""".stripMargin


  /** Edit-distance verification over LSH candidates: the fuzzy-dedup
    * second stage when the corpus needs CHARACTER-level (not set-level)
    * similarity — OCR noise, boilerplate edits. Levenshtein is O(len²)
    * per pair, so it runs ONLY on bucket-colocated candidates (never
    * all-pairs) and on a bounded 200-char prefix — the standard
    * cheap-filter-then-expensive-verify shape at corpus scale. */
  val q91_lsh_editdist: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val pairs = DocLsh.pairs(s, d)
    val prefixes = docs.select(col("doc_id"), substring(col("text"), 1, 200).as("pref"))
    pairs
      .join(prefixes.select(col("doc_id").as("doc_a"), col("pref").as("pref_a")), Seq("doc_a"))
      .join(prefixes.select(col("doc_id").as("doc_b"), col("pref").as("pref_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("pref_a"), col("pref_b")).cast("long").as("edit_dist"))
      .where(col("edit_dist") <= 100)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val q91_sql: String =
    s"""WITH ${lshCtes(LshK, LshBands)}
       |SELECT p.doc_a, p.doc_b,
       |       levenshtein(substr(a.text, 1, 200), substr(b.text, 1, 200)) AS edit_dist
       |FROM pairs p
       |JOIN documents a ON a.doc_id = p.doc_a
       |JOIN documents b ON b.doc_id = p.doc_b
       |WHERE levenshtein(substr(a.text, 1, 200), substr(b.text, 1, 200)) <= 100
       |ORDER BY doc_a, doc_b""".stripMargin


  /** Stratified corpus mixing: per-language deterministic hash-sample
    * rates (downsample dominant en, keep rare langs whole), reported as
    * per-stratum totals. Pure per-row predicate — no per-stratum count
    * pass, no membership table, stable under repartitioning. */
  private[queries] val StratRates = Map("en" -> 10, "de" -> 25, "fr" -> 50, "es" -> 75)

  /** Product-quantization compressed search: PQ-encode the corpus (m=4
    * subspaces × ksub=16 codes — 4 small ints per 64-dim vector), decode
    * (reconstruct) and rank top-10 cosine of the original queries against
    * the reconstruction. Same memory-lever shape as q85's scalar int8
    * path but at ~64× compression; codebooks are deterministic (subvectors
    * of the 16 smallest-id vectors — see [[Pq]] scaladoc), so the ENTIRE
    * encode→decode→search path is hash-checked against the oracle. */
  private[queries] val PqM = 4

  private[queries] val PqKsub = 16

  /** Mirrors Pq exactly: same fixed codebooks, same in-order diff² fold
    * (list_reduce starts at t1; Spark starts at 0.0 — `0.0 + t1 == t1`),
    * same `dist ASC, code ASC` tie order as NearestCodeL2's strict-<. */
  /** The PQ encode→decode pipeline as oracle CTEs (`dec(vec_id, dv)` is
    * the reconstruction) — shared by q95 and q99 so the two oracles cannot
    * drift. */
  private[queries] def pqDecCtes: String = {
    val dist = "list_reduce(list_transform(list_transform(range(1, b.sub+1), " +
      "i -> b.v[c.subspace*b.sub + i] - c.c[i]), t -> t*t), (x,y) -> x + y)"
    s"""base AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
       |         len(embedding)//$PqM AS sub
       |  FROM embeddings),
       |cbbase AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v, sub
       |  FROM base ORDER BY vec_id LIMIT $PqKsub),
       |cbs AS (
       |  SELECT s.s AS subspace, cb.code,
       |         cb.v[(s.s*cb.sub+1):((s.s+1)*cb.sub)] AS c
       |  FROM cbbase cb, (SELECT unnest(range(0, $PqM)) AS s) s),
       |enc AS (
       |  SELECT b.vec_id, c.subspace, c.c,
       |         row_number() OVER (PARTITION BY b.vec_id, c.subspace
       |                            ORDER BY $dist ASC, c.code ASC) AS rn
       |  FROM base b, cbs c),
       |dec AS (
       |  SELECT vec_id, flatten(list(c ORDER BY subspace)) AS dv
       |  FROM enc WHERE rn = 1 GROUP BY vec_id)""".stripMargin
  }


  /** TF-IDF top terms per document — the classic retrieval/relevance
    * scoring over the corpus: term frequency per (doc, term), document
    * frequency per term, top-3 terms per doc by weight. The IDF factor is
    * computed in INTEGER arithmetic (`(N·10⁶) div df` — a fixed-point
    * rational, monotone in N/df like log(N/df)) rather than a float `ln`:
    * libm transcendentals are not correctly-rounded and differ across
    * engines, so a log-based score could not be hash-checked. Scale shape:
    * one token shuffle for TF, one term-keyed agg for DF (bounded:
    * vocabulary ≪ corpus), broadcast N, one top-k window per doc. */
  val q102_tfidf: Q = (s, d) =>
    TextAnalysis.tfIdfTopK(Tables.documents(s, d), 3)
      .orderBy(col("doc_id"), col("rank"))

  val q102_sql: String =
    """WITH tokens AS (
      |  SELECT doc_id, t.term FROM documents,
      |       unnest(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '')) AS t(term)),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tokens GROUP BY doc_id, term),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT count(*) AS nn FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.term, CAST(tf.tf * ((n.nn * 1000000) // df.df) AS BIGINT) AS tfidf_fp
      |  FROM tf JOIN df USING (term), n),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf_fp DESC, term) AS rank
      |  FROM scored)
      |SELECT doc_id, rank, term, tfidf_fp FROM ranked
      |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin


  /** Conjunctive (AND) retrieval over the token index — the posting-list
    * intersection at the heart of boolean search: documents containing ALL
    * query terms, scored by total term frequency. Shape: the term filter
    * prunes the exploded token stream to the |Q| query terms BEFORE any
    * shuffle (postings for other terms never leave the map side), then two
    * map-side-combined aggs; intersection = `count(term) == |Q|`, never a
    * |Q|-way self-join. */
  private[queries] val AndTerms = Seq("join", "hash", "vector")

  val q103_and_retrieval: Q = (s, d) => {
    val tf = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(split(lower(col("text")), "\\W+")).as("term"))
      .where(col("term").isin(AndTerms: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    tf.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("total_tf"))
      .where(col("n_terms") === lit(AndTerms.size))
      .select(col("doc_id"), col("total_tf"))
      .orderBy(col("doc_id"))
  }

  val q103_sql: String = {
    val inList = AndTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH tf AS (
       |  SELECT doc_id, t.term, count(*) AS tf
       |  FROM documents,
       |       unnest(list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')) AS t(term)
       |  WHERE t.term IN ($inList)
       |  GROUP BY doc_id, t.term)
       |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS total_tf
       |FROM tf GROUP BY doc_id
       |HAVING count(*) = ${AndTerms.size}
       |ORDER BY doc_id""".stripMargin
  }


  private[queries] val CmsParams = (4, 2048) // (depth d, width w): err <= 2n/w at 1-2^-d

  private[queries] val HllM = 256

  /** BM25 ranked retrieval over `documents` for a fixed 4-term query —
    * [[TextAnalysis.bm25TopK]]'s rational-arithmetic scoring (fixed-point
    * IDF, integer numerator/denominator, one IEEE division, fixed-order
    * term sum) makes the SCORES hash-exact against the oracle, which
    * recomputes the identical formula in SQL. */
  val q110_bm25_retrieval: Q = (s, d) =>
    TextAnalysis.bm25TopK(Tables.documents(s, d), Bm25Terms, 15)

  private[queries] val Bm25Terms = Seq("hash", "join", "spark", "window")

  val q110_sql: String = {
    val inList = Bm25Terms.map(t => s"'$t'").mkString(", ")
    val pivotSum = Bm25Terms
      .map(t => s"coalesce(max(CASE WHEN term = '$t' THEN score END), 0.0)")
      .mkString(" + ")
    s"""WITH toks AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')) AS term FROM documents),
       |     dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
       |     tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term IN ($inList) GROUP BY 1, 2),
       |     df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |     stats AS (SELECT (SELECT count(*) FROM documents) AS n,
       |                      (SELECT CAST(sum(dl) AS BIGINT) FROM dl) AS t),
       |     scored AS (SELECT tf.doc_id, tf.term,
       |                       CAST(((s.n * 1000000) // df.df) * (22 * s.t * tf.tf) AS DOUBLE) /
       |                       CAST(10 * s.t * tf.tf + 3 * s.t + 9 * dl.dl * s.n AS DOUBLE) AS score
       |                FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s),
       |     piv AS (SELECT doc_id, $pivotSum AS bm25 FROM scored GROUP BY doc_id)
       |SELECT doc_id, bm25 FROM piv
       |ORDER BY bm25 DESC, doc_id LIMIT 15""".stripMargin
  }


  // ------------------------------------------- round 7: projection / mixing
  private[queries] val RpOutDim = 16

  private[queries] val RpInDim = 64 // embeddings are 64-wide at every SF; DotProduct

                           // fails fast (not silently) on a width mismatch
  private[queries] lazy val RpMatrix = RandomProjection.signMatrix(RpOutDim, RpInDim, "rp")

  private[queries] def rpLit(j: Int): String =
    RpMatrix(j).map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ", ", "]")


  /** Vocabulary coverage / OOV rate — [[TextAnalysis.vocabCoverage]] at
    * V=20 over the 31-term corpus vocabulary (V=20 makes the boundary
    * tie-break and the OOV signal both real: doc rates span 0–0.62,
    * median 0.32) vs the oracle's qualify-free window-free replay. */
  val q168_vocab_oov: Q = (s, d) =>
    TextAnalysis.vocabCoverage(Tables.documents(s, d), "text", "doc_id", 20)
      .orderBy(col("doc_id"))

  val q168_sql: String =
    """WITH tok AS (SELECT doc_id,
      |  unnest(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '')) AS term
      |  FROM documents),
      |vc AS (SELECT term, count(*) AS cnt FROM tok GROUP BY 1),
      |v AS (SELECT term FROM vc ORDER BY cnt DESC, term LIMIT 20),
      |pd AS (SELECT tok.doc_id, count(*)::BIGINT AS n_tokens,
      |         sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov
      |       FROM tok LEFT JOIN v ON tok.term = v.term GROUP BY 1)
      |SELECT d.doc_id, coalesce(pd.n_tokens, 0) AS n_tokens,
      |       coalesce(pd.n_oov, 0) AS n_oov,
      |       CASE WHEN coalesce(pd.n_tokens, 0) > 0
      |            THEN (pd.n_oov * 1000000) // pd.n_tokens ELSE 0 END AS oov_fp
      |FROM documents d LEFT JOIN pd USING (doc_id) ORDER BY doc_id""".stripMargin


  /** Iterative BPE training, 3 merges deep — [[Bpe.trainRounds]]' elect →
    * apply → re-count loop vs an oracle that replays the greedy
    * NON-OVERLAPPING merge application in SQL: match positions →
    * gaps-and-islands chain start → within-chain parity (the left-to-right
    * fold's exact take/skip rule, including the a=b run case) → rebuilt
    * symbol lists → next election. The windows run over VOCAB-sized data
    * (31 words), never the corpus. */
  val q170_bpe_rounds: Q = (s, d) =>
    Bpe.trainRounds(Tables.documents(s, d), "text", 3).orderBy(col("round"))


  /** One BPE elect(+apply) oracle stage: reads CTE s$r, defines e$r (the
    * election) and — when `applyIt` — s${r+1} (the merged symbol table,
    * replaying [[Bpe.applyMerge]]'s greedy non-overlapping left fold via
    * gaps-and-islands chain parity). Shared by q170 and q172 so the two
    * oracles cannot drift. */
  private[queries] def bpeStageSql(r: Int, applyIt: Boolean): String = {
    val elect =
      s"""u$r AS (SELECT word, n, unnest(syms) AS sym,
         |         unnest(range(1, len(syms) + 1)) AS i FROM s$r),
         |w$r AS (SELECT word, n, i, sym,
         |         lead(sym) OVER (PARTITION BY word ORDER BY i) AS nxt FROM u$r),
         |pc$r AS (SELECT sym || ' ' || nxt AS pair, sum(n)::BIGINT AS cnt
         |         FROM w$r WHERE nxt IS NOT NULL GROUP BY 1),
         |e$r AS (SELECT min(pair) AS pair, max(cnt) AS cnt FROM pc$r
         |        WHERE cnt = (SELECT max(cnt) FROM pc$r))""".stripMargin
    if (!applyIt) elect else elect + ",\n" +
      s"""m$r AS (SELECT string_split(pair, ' ')[1] AS a,
         |         string_split(pair, ' ')[2] AS b FROM e$r),
         |mt$r AS (SELECT w.word, w.i FROM w$r w, m$r m
         |         WHERE w.sym = m.a AND w.nxt = m.b),
         |il$r AS (SELECT word, i,
         |          i - row_number() OVER (PARTITION BY word ORDER BY i) AS isl
         |         FROM mt$r),
         |tk$r AS (SELECT word, i FROM (
         |           SELECT word, i, min(i) OVER (PARTITION BY word, isl) AS st
         |           FROM il$r) WHERE (i - st) % 2 = 0),
         |s${r + 1} AS (SELECT w.word, w.n,
         |           list(CASE WHEN tk.i IS NOT NULL THEN w.sym || w.nxt
         |                     ELSE w.sym END ORDER BY w.i) AS syms
         |         FROM w$r w LEFT JOIN tk$r tk ON tk.word = w.word AND tk.i = w.i
         |         WHERE NOT EXISTS (SELECT 1 FROM tk$r p
         |                           WHERE p.word = w.word AND p.i = w.i - 1)
         |         GROUP BY w.word, w.n)""".stripMargin
  }

  private[queries] val bpeVocabSql: String =
    """v AS (SELECT word, count(*)::BIGINT AS n FROM (
      |  SELECT unnest(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '')) AS word
      |  FROM documents) GROUP BY 1),
      |s1 AS (SELECT word, n,
      |        list_transform(range(1, length(word) + 1), i -> word[i:i]) AS syms
      |       FROM v)""".stripMargin

  val q170_sql: String =
    s"""WITH $bpeVocabSql,
       |${bpeStageSql(1, applyIt = true)},
       |${bpeStageSql(2, applyIt = true)},
       |${bpeStageSql(3, applyIt = false)}
       |SELECT * FROM (
       |  SELECT 1::BIGINT AS round, pair, cnt FROM e1
       |  UNION ALL SELECT 2::BIGINT, pair, cnt FROM e2
       |  UNION ALL SELECT 3::BIGINT, pair, cnt FROM e3)
       |ORDER BY round""".stripMargin


  /** BPE ENCODING with the 3 trained merges — [[Bpe.encodeStats]]: the
    * merges apply to the VOCAB table (bounded), the corpus only explodes
    * words and broadcast-joins the (word → symbol count) result, so
    * encoding costs one narrow corpus pass. The oracle extends q170's
    * shared stage chain one application further (s4 = symbols after all
    * three merges) and replays the join — train and encode certified
    * against the same SQL fragments. */
  val q172_bpe_encode: Q = (s, d) =>
    Bpe.encodeStats(Tables.documents(s, d), "text", "doc_id", 3)
      .orderBy(col("doc_id"))

  val q172_sql: String =
    s"""WITH $bpeVocabSql,
       |${bpeStageSql(1, applyIt = true)},
       |${bpeStageSql(2, applyIt = true)},
       |${bpeStageSql(3, applyIt = true)},
       |wl AS (SELECT word, length(word)::BIGINT AS n_chars,
       |         len(syms)::BIGINT AS n_syms FROM s4),
       |dw AS (SELECT doc_id,
       |         unnest(list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')) AS word
       |       FROM documents),
       |pd AS (SELECT dw.doc_id, count(*)::BIGINT AS n_words,
       |         sum(wl.n_chars)::BIGINT AS n_chars_tok,
       |         sum(wl.n_syms)::BIGINT AS n_bpe
       |       FROM dw JOIN wl USING (word) GROUP BY 1)
       |SELECT d.doc_id, coalesce(pd.n_words, 0) AS n_words,
       |       coalesce(pd.n_chars_tok, 0) AS n_chars_tok,
       |       coalesce(pd.n_bpe, 0) AS n_bpe,
       |       CASE WHEN coalesce(pd.n_chars_tok, 0) > 0
       |            THEN (pd.n_bpe * 1000000) // pd.n_chars_tok ELSE 0 END AS ratio_fp
       |FROM documents d LEFT JOIN pd USING (doc_id) ORDER BY d.doc_id""".stripMargin


  /** LSH quality audit — precision/recall of the MinHash-LSH candidate
    * generator (q23's exact config) against the EXACT τ≥0.7 Jaccard pair
    * set (q159's prefix-filtered join as ground truth): the evaluation
    * harness a dedup pipeline runs before trusting its probe/band config.
    * Both operand pair sets are certified operators already; this query
    * certifies the measurement itself (counts + fixed-point ratios). */
  val q176_lsh_quality: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val truth = SetJoin.jaccardPairs(docs, "doc_id", "text", 7L, 10L)
      .select(col("doc_a"), col("doc_b"))
      .localCheckpoint(true) // consumers: count + hits join
    val cand = DocLsh.pairs(s, d) // staged: both consumers re-scan
      .select(col("doc_a"), col("doc_b"))
    val hits = cand.join(truth, Seq("doc_a", "doc_b"), "left_semi")
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_candidates"))))
      .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hits"))))
      .select(col("n_truth"), col("n_candidates"), col("n_hits"),
        when(col("n_candidates") > 0,
          expr("(n_hits * 1000000L) div n_candidates")).otherwise(0L)
          .as("precision_fp"),
        when(col("n_truth") > 0,
          expr("(n_hits * 1000000L) div n_truth")).otherwise(0L)
          .as("recall_fp"))
  }

  val q176_sql: String =
    s"""WITH ${lshCtes(LshK, LshBands)},
       |sz AS (SELECT doc_id, count(*)::BIGINT AS n FROM sh GROUP BY 1),
       |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS inter
       |       FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |truth AS (SELECT doc_a, doc_b
       |          FROM pr JOIN sz sa ON pr.doc_a = sa.doc_id
       |                  JOIN sz sb ON pr.doc_b = sb.doc_id
       |          WHERE inter * 10 >= (sa.n + sb.n - inter) * 7),
       |m AS (SELECT (SELECT count(*) FROM truth)::BIGINT AS n_truth,
       |             (SELECT count(*) FROM pairs)::BIGINT AS n_candidates,
       |             (SELECT count(*) FROM pairs p JOIN truth t
       |                USING (doc_a, doc_b))::BIGINT AS n_hits)
       |SELECT n_truth, n_candidates, n_hits,
       |       CASE WHEN n_candidates > 0 THEN (n_hits * 1000000) // n_candidates
       |            ELSE 0 END AS precision_fp,
       |       CASE WHEN n_truth > 0 THEN (n_hits * 1000000) // n_truth
       |            ELSE 0 END AS recall_fp
       |FROM m""".stripMargin


  /** Containment (near-subset) scoring over the LSH candidates —
    * [[Dedup.containmentPairs]]: the asymmetric dedup tier Jaccard
    * cannot see (a short doc quoted inside a long one scores ~0 Jaccard
    * but ~1 containment on the short side). Candidate-pairs-only, same
    * equi-join shape as the q24 verify; fixed-point ratios + the
    * near-subset verdict hash-checked. */
  val q179_containment: Q = (s, d) => {
    val shingled = DocLsh.shingles(s, d)
    val pairs = DocLsh.pairs(s, d)
    Dedup.containmentPairs(shingled, pairs)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val q179_sql: String =
    s"""WITH ${lshCtes(LshK, LshBands)},
       |sizes AS (SELECT doc_id, count(*)::BIGINT AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT p.doc_a, p.doc_b, count(*)::BIGINT AS n_inter
       |          FROM pairs p
       |          JOIN sh a ON a.doc_id = p.doc_a
       |          JOIN sh b ON b.doc_id = p.doc_b AND a.shingle = b.shingle
       |          GROUP BY p.doc_a, p.doc_b)
       |SELECT i.doc_a, i.doc_b, i.n_inter,
       |       (i.n_inter * 1000000) // sa.n AS cont_a_fp,
       |       (i.n_inter * 1000000) // sb.n AS cont_b_fp,
       |       greatest((i.n_inter * 1000000) // sa.n,
       |                (i.n_inter * 1000000) // sb.n) * 10 >= 1000000 * 9
       |         AS near_subset
       |FROM inter i
       |JOIN sizes sa ON sa.doc_id = i.doc_a
       |JOIN sizes sb ON sb.doc_id = i.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin


  /** The full VERIFIED dedup pipeline under one hash — the production
    * discipline q154 skips: cluster on EXACT-verified pairs (prefix-
    * filtered Jaccard ≥ 0.5, q159's integer semantics), not raw LSH
    * candidates (hash collisions must not glue unrelated clusters), then
    * connected components, then quality-keeper election, with the removal
    * cost (members − keeper, chars dropped) accounted per cluster. */
  val q180_dedup_verified: Q = (s, d) => {
    val docs = Tables.widen(Tables.documents(s, d))
    val verified = SetJoin.jaccardPairs(docs, "doc_id", "text", 1L, 2L)
      .select(col("doc_a"), col("doc_b"))
    val comp = graft.operators.ConnectedComponents
      .components(verified, "doc_a", "doc_b")
      .select(col("id").as("doc_id"), col("cluster_id"))
    val membership = docs.select(col("doc_id"), col("n_chars"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    membership.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("n_chars")).as("__chars"),
        max(struct(col("n_chars"), col("doc_id"))).as("__w"))
      .select(col("cluster_id"), col("n_members"),
        col("__w.doc_id").as("keeper_id"),
        (col("n_members") - 1L).as("n_removed"),
        (col("__chars") - col("__w.n_chars")).as("removed_chars"))
      .orderBy(col("cluster_id"))
  }

  val q180_sql: String =
    s"""WITH RECURSIVE $shingleCtes,
       |sz AS (SELECT doc_id, count(*)::BIGINT AS n FROM sh GROUP BY 1),
       |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS inter
       |       FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |tr AS (SELECT doc_a, doc_b
       |       FROM pr JOIN sz sa ON pr.doc_a = sa.doc_id
       |               JOIN sz sb ON pr.doc_b = sb.doc_id
       |       WHERE inter * 2 >= (sa.n + sb.n - inter) * 1),
       |und AS (SELECT doc_a AS src, doc_b AS dst FROM tr
       |        UNION SELECT doc_b, doc_a FROM tr),
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
       |agg AS (SELECT cluster_id, count(*)::BIGINT AS n_members,
       |          sum(n_chars)::BIGINT AS chars FROM m GROUP BY 1)
       |SELECT agg.cluster_id, agg.n_members, r.doc_id AS keeper_id,
       |       agg.n_members - 1 AS n_removed,
       |       agg.chars - r.n_chars AS removed_chars
       |FROM agg JOIN r USING (cluster_id) WHERE r.rn = 1
       |ORDER BY cluster_id""".stripMargin
}
