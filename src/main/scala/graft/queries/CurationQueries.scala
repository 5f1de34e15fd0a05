package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.llm.{AllPairs, Bpe, CmsAgg, Curation, Dedup, Hll, Importance, Ivf, Multimodal, Pq, Quantize, RandomProjection, RollingHash, Sampling, SemDedup, SetJoin, Similarity, Sketch, TextAnalysis}
import graft.queries.LlmQueries._
import graft.queries.LlmTextQueries.{c4LineCtes, crossLshCtes, gopherKeepSql, gopherStatCtes, DsirBuckets}

/** training-data curation pipelines, sampling, and gates — split from the monolithic query registry
  * (round-8 maintainability); shared oracle-SQL helpers stay in the
  * origin object(s) (LlmQueries) with
  * package-private visibility. Same contract as every registry:
  * each `q<N>_<name>` query has a DuckDB `q<N>_sql` twin with identical
  * column names and deterministic ordering. */
object CurationQueries extends Registry {

  // ------------------------------------------------ hash sampling / mixing
  /** Deterministic corpus mixing: per-language keep rates (en 80%, others
    * 40%) via hash buckets — reproducible under re-runs and repartitioning,
    * unlike seeded RNG sampling. */
  val q54_hash_sampling: Q = (s, d) => {
    val doc = Tables.documents(s, d)
    val rate = when(col("lang") === "en", 80).otherwise(40)
    doc.where(Sampling.hashBucket(col("doc_id")) < rate)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"))
      .orderBy(col("lang"))
  }

  val q54_sql: String =
    """SELECT lang, count(*) AS n_kept
      |FROM documents
      |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
      |      < CASE WHEN lang = 'en' THEN 80 ELSE 40 END
      |GROUP BY lang ORDER BY lang""".stripMargin


  // ------------------------------------------------------ train/val/test
  /** Hash-range split assignment (80/10/10): membership is a pure function
    * of the id — no membership table, no shuffle, re-derivable anywhere. */
  val q55_split_assign: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("source"), Sampling.assignSplit(col("doc_id")).as("split"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("source"), col("split"))

  val q55_sql: String =
    """SELECT source,
      |       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
      |       count(*) AS n
      |FROM (SELECT source,
      |             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
      |      FROM documents)
      |GROUP BY 1, 2 ORDER BY source, split""".stripMargin


  /** The flagship composition — a training-data curation pipeline end to
    * end, every stage an operator this engine already certifies alone:
    * exact dedup (keep min doc_id per content hash) → stopword-profile
    * language ID → composite quality gate → reproducible hash split, ending
    * in the per-split corpus report (docs + BPE-ish token budget). One
    * oracle hash covers the whole chain's composition, not just the pieces.
    *
    * Scale shape: the dedup groupBy ships only (hash, min-id) partials;
    * the keeper join is a key-only big⋈big equi-join; lang/quality/tokens
    * are per-row expressions (widened scan); the report is a 3-group
    * aggregate. Two shuffles + the final sort, no row multiplication. */
  val q79_curation_pipeline: Q = (s, d) => {
    val doc = Tables.widen(Tables.documents(s, d))
    val keepers = doc.groupBy(md5(col("text")).as("__h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val surv = doc.join(keepers, Seq("doc_id"))
    val kept = TextAnalysis.withLangId(surv, "text", "lang_detected")
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .where(col("lang_detected") === "en" && col("quality") >= 0.5)
    kept.select(Sampling.assignSplit(col("doc_id")).as("split"),
        TextAnalysis.bpeTokenCount(col("text")).as("__tok"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__tok")).as("total_bpe_tokens"))
      .orderBy(col("split"))
  }

  /** Generated from the SAME Scala constants as the Spark side (lang
    * profiles, quality weights, split cuts) so the two cannot drift —
    * the composition of q19/q21/q22/q55's oracle fragments. */
  val q79_sql: String = {
    val scores = TextAnalysis.langProfiles.map { case (lang, pat) =>
      s"len(regexp_extract_all(lower(text), '$pat')) AS s_$lang"
    }.mkString(",\n      |         ")
    val langs = TextAnalysis.langProfiles.map(_._1)
    val best = s"greatest(${langs.map("s_" + _).mkString(", ")})"
    val arms = langs.map(l => s"WHEN s_$l = best AND best > 0 THEN '$l'").mkString(" ")
    val stopHits = langs.map("s_" + _).mkString(" + ")
    s"""WITH keepers AS (
       |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |surv AS (SELECT d.* FROM documents d JOIN keepers USING (doc_id)),
       |parts AS (
       |  SELECT doc_id, text,
       |         least(length(text)::DOUBLE / 400.0, 1.0) AS len_score,
       |         CASE WHEN length(text) > 0
       |              THEN (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))::DOUBLE / length(text)
       |              ELSE 0.0 END AS punct_ratio,
       |         len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS total_ws,
       |         $scores
       |  FROM surv),
       |scored AS (
       |  SELECT doc_id, text,
       |         len_score * 0.4
       |         + (1.0 - least(punct_ratio * 4.0, 1.0)) * 0.3
       |         + least((CASE WHEN total_ws > 0 THEN ($stopHits)::DOUBLE / total_ws ELSE 0.0 END) * 5.0, 1.0) * 0.3 AS quality,
       |         CASE $arms ELSE 'und' END AS lang_detected
       |  FROM (SELECT *, $best AS best FROM parts)),
       |kept AS (SELECT doc_id, text FROM scored
       |         WHERE lang_detected = 'en' AND quality >= 0.5)
       |SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
       |       count(*) AS n_docs,
       |       CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS total_bpe_tokens
       |FROM (SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
       |      FROM kept)
       |GROUP BY 1 ORDER BY split""".stripMargin
  }


  val q92_stratified_sample: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"),
        Sampling.stratifiedKeep(col("doc_id"), col("lang"), StratRates).as("__keep"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_sampled"))
      .orderBy(col("lang"))

  val q92_sql: String = {
    val arms = StratRates.map { case (k, v) => s"WHEN lang = '$k' THEN $v" }.mkString(" ")
    s"""SELECT lang, count(*) AS n_total,
       |       CAST(sum(CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
       |                          < (CASE $arms ELSE 100 END)
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
  }


  /** Benchmark-contamination audit — [[Curation.contamination]]'s broadcast
    * packed-gram-set + row-local array_intersect (zero corpus shuffle) vs
    * the oracle's explicit gram join. n = 4 here so the synthetic corpus
    * has signal (real decontamination runs use 8-13; the operator takes n). */
  val q114_contamination: Q = (s, d) =>
    Curation.contamination(Tables.documents(s, d), "text", "doc_id",
      col("doc_id") % 97 === 0, n = 4)
      .orderBy(col("doc_id"))

  val q114_sql: String =
    """WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w FROM documents),
      |grams AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 2), i -> array_to_string(w[i:i+3], ' '))) AS gs
      |          FROM toks WHERE len(w) >= 4),
      |flat AS (SELECT doc_id, unnest(gs) AS g FROM grams),
      |bench AS (SELECT DISTINCT g FROM flat WHERE doc_id % 97 = 0),
      |ng AS (SELECT doc_id, len(gs)::BIGINT AS n_grams FROM grams),
      |ov AS (SELECT f.doc_id, count(*)::BIGINT AS n_overlap
      |       FROM flat f JOIN bench USING (g) WHERE f.doc_id % 97 <> 0 GROUP BY 1)
      |SELECT d.doc_id,
      |       coalesce(ng.n_grams, 0) AS n_grams,
      |       coalesce(ov.n_overlap, 0) AS n_overlap,
      |       coalesce(ov.n_overlap, 0) > 0 AS contaminated
      |FROM documents d LEFT JOIN ng USING (doc_id) LEFT JOIN ov USING (doc_id)
      |WHERE d.doc_id % 97 <> 0
      |ORDER BY d.doc_id""".stripMargin


  /** Sequence-packing audit — [[Curation.packStats]]'s two-phase
    * range-partitioned prefix sum ([[graft.operators.RunningTotal]]) vs the
    * oracle's per-source window cumsum: the scalable formulation must
    * reproduce the window's result exactly (all-integer arithmetic). */
  val q115_sequence_packing: Q = (s, d) =>
    Curation.packStats(Tables.documents(s, d), "text", "doc_id", "source", budget = 512)
      .orderBy(col("source"), col("seq_id"))

  val q115_sql: String =
    """WITH t AS (SELECT source, doc_id, len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::BIGINT AS n FROM documents),
      |nz AS (SELECT * FROM t WHERE n > 0),
      |c AS (SELECT source, doc_id, n, (sum(n) OVER (PARTITION BY source ORDER BY doc_id))::BIGINT AS cum FROM nz),
      |p AS (SELECT source, (cum - n) // 512 AS seq_id, n,
      |             CASE WHEN (cum - 1) // 512 > (cum - n) // 512 THEN 1 ELSE 0 END AS crossing FROM c)
      |SELECT source, seq_id, count(*)::BIGINT AS n_docs,
      |       sum(n)::BIGINT AS n_started_tokens, sum(crossing)::BIGINT AS n_crossing
      |FROM p GROUP BY 1, 2
      |ORDER BY source, seq_id""".stripMargin


  /** Domain-mixture resampling (DoReMi-style reweighting) —
    * [[Sampling.mixtureKeep]]'s all-integer keep predicate with per-source
    * weights derived from the source name (deterministic on both engines),
    * target total = half the corpus. The per-source counts and the
    * (total, Σw) scalars are bounded broadcasts; membership is then a pure
    * per-row hash comparison, so kept counts hash-match the oracle exactly. */
  val q116_mixture_resample: Q = (s, d) => {
    val docs = Tables.widen(Tables.documents(s, d))
      .select(col("doc_id"), col("source"))
    val counts = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_s"))
      .withColumn("w",
        coalesce(expr("try_cast(regexp_extract(source, '([0-9]+)$', 1) as bigint)"),
          lit(0L)) % 3 + 1)
    val tot = counts.agg(sum(col("n_s")).as("total"), sum(col("w")).as("sumw"))
    val kept = docs
      .join(broadcast(counts), Seq("source"))
      .crossJoin(broadcast(tot))
      .where(Sampling.mixtureKeep(col("doc_id"), col("n_s"), col("w"),
        col("sumw"), expr("total div 2")))
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
    counts.join(kept, Seq("source"), "left")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("n_s").as("n_docs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        expr("(w * 1000000) div sumw").as("target_ppm"))
      .orderBy(col("source"))
  }

  val q116_sql: String =
    """WITH c AS (SELECT source, count(*)::BIGINT AS n_s,
      |                  (coalesce(TRY_CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT), 0) % 3) + 1 AS w
      |           FROM documents GROUP BY source),
      |t AS (SELECT sum(n_s)::BIGINT AS total, sum(w)::BIGINT AS sumw FROM c),
      |k AS (SELECT d.source, count(*)::BIGINT AS n_kept
      |      FROM documents d JOIN c USING (source) CROSS JOIN t
      |      WHERE (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000) * c.n_s * t.sumw
      |            < c.w * (t.total // 2) * 1000000
      |      GROUP BY 1)
      |SELECT c.source, c.n_s AS n_docs,
      |       coalesce(k.n_kept, 0) AS n_kept,
      |       (c.w * 1000000) // t.sumw AS target_ppm
      |FROM c LEFT JOIN k USING (source) CROSS JOIN t
      |ORDER BY c.source""".stripMargin


  /** Diversity-preserving coreset — [[Ivf.cellRepresentatives]]: one
    * best-centered exemplar per fixed IVF cell plus the cell population.
    * The argmax is a bounded-key max(struct) aggregate, not a per-cell
    * window (see scaladoc); the oracle re-derives the same representative
    * with a row_number over the q56-shared assignment CTEs, so scores,
    * ids, AND populations are hash-checked. */
  val q118_diverse_coreset: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val dim = graft.io.Stats.embeddingDim(s, d)
    Ivf.cellRepresentatives(emb, Ivf.fit(emb, 8, 0, dim), dim)
      .select(col("cell").cast("long").as("cell"), col("rep_id"),
        col("rep_score"), col("n_members"))
      .orderBy(col("cell"))
  }

  val q118_sql: String =
    s"""WITH $ivfFixedCtes,
       |own AS (SELECT vec_id, cell, s FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rn FROM asg0)
       |  WHERE rn = 1),
       |reps AS (SELECT cell, vec_id AS rep_id, s AS rep_score FROM (
       |  SELECT *, row_number() OVER (PARTITION BY cell ORDER BY s DESC, vec_id) AS rn2 FROM own)
       |  WHERE rn2 = 1),
       |cnt AS (SELECT cell, count(*)::BIGINT AS n_members FROM own GROUP BY 1)
       |SELECT r.cell, r.rep_id, r.rep_score, c.n_members
       |FROM reps r JOIN cnt c USING (cell)
       |ORDER BY r.cell""".stripMargin


  /** End-to-end curation pipeline v2 — the round-5 operator family
    * composed as one funnel and certified under ONE oracle hash: per
    * source, documents flow through the repetition quality gate (q112's
    * thresholds) → the benchmark-contamination gate (q114's setup) → the
    * domain-mixture resampler (q116's integer predicate, stats computed on
    * the clean survivors) → sequence packing (q115's concat-chop at 512).
    * Every stage count AND the packed-sequence count per source must
    * hash-match the oracle's SQL replay of the same chain — certifying the
    * operators compose, not just that each works alone. */
  val q121_curation_v2: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val isBench = col("doc_id") % 97 === 0
    val base = Tables.widen(docs).where(!isBench)
    val rep = Curation.repetitionStats(base, "text", "doc_id")
      .select(col("doc_id"), col("keep"))
    val cont = Curation.contamination(docs, "text", "doc_id", isBench, n = 4)
      .select(col("doc_id"), col("contaminated"))
    // flags is consumed by three downstream branches (per-source rollup,
    // survivor filter, resample-stat join): truncate the gate pipeline's
    // lineage ONCE so the tokenize+gram work runs once, not per consumer
    // (same license as Ivf.fit's checkpoint)
    val flags = base
      .select(col("doc_id"), col("source"),
        TextAnalysis.wsTokenCount(col("text")).as("n_tokens"))
      .join(rep, Seq("doc_id"))
      .join(cont, Seq("doc_id"))
      .localCheckpoint(true)
    val surv1 = flags.where(col("keep") && !col("contaminated"))
    val counts = surv1.groupBy(col("source"))
      .agg(count(lit(1)).as("n_s"))
      .withColumn("w",
        coalesce(expr("try_cast(regexp_extract(source, '([0-9]+)$', 1) as bigint)"),
          lit(0L)) % 3 + 1)
    val tot = counts.agg(sum(col("n_s")).as("total"), sum(col("w")).as("sumw"))
    val surv2 = surv1
      .join(broadcast(counts), Seq("source"))
      .crossJoin(broadcast(tot))
      .where(Sampling.mixtureKeep(col("doc_id"), col("n_s"), col("w"),
        col("sumw"), expr("total div 2")))
      .select(col("source"), col("doc_id"), col("n_tokens"))
      .localCheckpoint(true) // consumed by both packing and the mixed rollup
    val packed = graft.operators.RunningTotal
      .grouped(surv2.where(col("n_tokens") > 0), "source", "doc_id", "n_tokens", "cum")
      .select(col("source"), expr("(cum - n_tokens) div 512").as("seq_id"))
    val nseq = packed.groupBy(col("source"))
      .agg(countDistinct(col("seq_id")).as("n_sequences"))
    val perSource = flags.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_quality"),
      sum(when(col("keep") && !col("contaminated"), 1L).otherwise(0L)).as("n_clean"))
    val mixed = surv2.groupBy(col("source")).agg(count(lit(1)).as("n_mixed"))
    perSource
      .join(mixed, Seq("source"), "left")
      .join(nseq, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_quality"), col("n_clean"),
        coalesce(col("n_mixed"), lit(0L)).as("n_mixed"),
        coalesce(col("n_sequences"), lit(0L)).as("n_sequences"))
      .orderBy(col("source"))
  }

  val q121_sql: String =
    """WITH toks AS (SELECT doc_id, source, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w,
      |                     len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::BIGINT AS n_tokens
      |              FROM documents),
      |base AS (SELECT * FROM toks WHERE doc_id % 97 <> 0),
      |g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS g FROM base WHERE len(w) >= 2),
      |c2 AS (SELECT doc_id, max(c)::BIGINT AS top2, sum(c)::BIGINT AS tot2
      |       FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2) GROUP BY 1),
      |g5 AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 3), i -> array_to_string(w[i:i+4], ' '))) AS g FROM base WHERE len(w) >= 5),
      |c5 AS (SELECT doc_id, coalesce(sum(c) FILTER (c >= 2), 0)::BIGINT AS dup5, sum(c)::BIGINT AS tot5
      |       FROM (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY 1, 2) GROUP BY 1),
      |quality AS (SELECT b.doc_id,
      |                   (coalesce(c2.top2, 0) * 5 <= coalesce(c2.tot2, 0)
      |                    AND coalesce(c5.dup5, 0) * 10 <= coalesce(c5.tot5, 0) * 3) AS keep
      |            FROM base b LEFT JOIN c2 USING (doc_id) LEFT JOIN c5 USING (doc_id)),
      |g4 AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 2), i -> array_to_string(w[i:i+3], ' ')))) AS g
      |       FROM toks WHERE len(w) >= 4),
      |bench AS (SELECT DISTINCT g FROM g4 WHERE doc_id % 97 = 0),
      |contam AS (SELECT DISTINCT f.doc_id FROM g4 f JOIN bench USING (g) WHERE f.doc_id % 97 <> 0),
      |flags AS (SELECT b.doc_id, b.source, b.n_tokens, q.keep,
      |                 (c.doc_id IS NOT NULL) AS contaminated
      |          FROM base b JOIN quality q USING (doc_id) LEFT JOIN contam c USING (doc_id)),
      |surv1 AS (SELECT * FROM flags WHERE keep AND NOT contaminated),
      |cnts AS (SELECT source, count(*)::BIGINT AS n_s,
      |                (coalesce(TRY_CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT), 0) % 3) + 1 AS wt
      |         FROM surv1 GROUP BY source),
      |t AS (SELECT sum(n_s)::BIGINT AS total, sum(wt)::BIGINT AS sumw FROM cnts),
      |surv2 AS (SELECT s1.source, s1.doc_id, s1.n_tokens
      |          FROM surv1 s1 JOIN cnts USING (source) CROSS JOIN t
      |          WHERE (('0x' || substr(md5(CAST(s1.doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000) * cnts.n_s * t.sumw
      |                < cnts.wt * (t.total // 2) * 1000000),
      |packed AS (SELECT source, ((cum - n_tokens) // 512) AS seq_id FROM (
      |             SELECT source, n_tokens,
      |                    (sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id))::BIGINT AS cum
      |             FROM surv2 WHERE n_tokens > 0)),
      |nseq AS (SELECT source, count(DISTINCT seq_id)::BIGINT AS n_sequences FROM packed GROUP BY source),
      |mixed AS (SELECT source, count(*)::BIGINT AS n_mixed FROM surv2 GROUP BY source),
      |per_source AS (SELECT source, count(*)::BIGINT AS n_docs,
      |                      sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_quality,
      |                      sum(CASE WHEN keep AND NOT contaminated THEN 1 ELSE 0 END)::BIGINT AS n_clean
      |               FROM flags GROUP BY source)
      |SELECT p.source, p.n_docs, p.n_quality, p.n_clean,
      |       coalesce(m.n_mixed, 0) AS n_mixed,
      |       coalesce(n.n_sequences, 0) AS n_sequences
      |FROM per_source p LEFT JOIN mixed m USING (source) LEFT JOIN nseq n USING (source)
      |ORDER BY p.source""".stripMargin


  /** Weighted sample WITHOUT replacement, k per group — priority sampling
    * ([[Sampling.priorityFp]]): rank rows by the integer priority
    * w/u and keep the top 3 per nation. Unlike the rate-based samplers
    * (q54/q92/q116) this guarantees an exact per-group sample SIZE with
    * inclusion probability ∝ weight — the corpus-curation move for "give
    * me exactly k docs per source, favoring high-quality ones". Shape:
    * one per-row hash, one k-bounded window per group (Spark's
    * WindowGroupLimit pushes the rank filter below the sort, so each
    * partition keeps a k-row heap — no full per-group sort at scale). */
  val q125_priority_sample: Q = (s, d) => {
    // c_acctbal is a DOUBLE (cents-precision payload): ROUND before the
    // integer cast — Spark's cast truncates, DuckDB's rounds, and a
    // 1234.56*100 = 123455.9999… double would silently differ by 1.
    val c = Tables.customer(s, d).where(col("c_acctbal") > 0)
      .select(col("c_custkey"), col("c_nationkey"),
        round(col("c_acctbal") * 100, 0).cast("long").as("w_fp"))
    val pri = c.withColumn("priority_fp",
      Sampling.priorityFp(col("c_custkey"), col("w_fp")))
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("priority_fp").desc, col("c_custkey"))
    pri.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 3)
      .select(col("c_nationkey"), col("rk"), col("c_custkey"), col("priority_fp"))
      .orderBy(col("c_nationkey"), col("rk"))
  }

  val q125_sql: String =
    """WITH c AS (
      |  SELECT c_custkey, c_nationkey, CAST(round(c_acctbal * 100, 0) AS BIGINT) AS w_fp
      |  FROM customer WHERE c_acctbal > 0),
      |pri AS (
      |  SELECT *, (w_fp * 1000000) //
      |         ((('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT % 1000000) + 1)
      |         AS priority_fp
      |  FROM c),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY c_nationkey
      |                               ORDER BY priority_fp DESC, c_custkey) AS rk
      |  FROM pri)
      |SELECT c_nationkey, CAST(rk AS BIGINT) AS rk, c_custkey, priority_fp
      |FROM ranked WHERE rk <= 3 ORDER BY c_nationkey, rk""".stripMargin


  val q127_importance: Q = (s, d) =>
    Importance.hashedNgramScores(Tables.documents(s, d), "text", "doc_id",
        col("lang") === "en", DsirBuckets)
      .orderBy(col("doc_id"))

  val q127_sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang = 'en' AS is_target,
       |         list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS ts
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, is_target, ts[i] || ' ' || ts[i+1] AS gram
       |  FROM toks, unnest(range(1, len(ts))) AS t(i) WHERE len(ts) >= 2),
       |dbc AS (
       |  SELECT doc_id, is_target,
       |         ('0x' || substr(md5(gram), 1, 8))::BIGINT % $DsirBuckets AS b,
       |         count(*) AS c
       |  FROM g GROUP BY 1, 2, 3),
       |raw AS (SELECT b, sum(c) AS r_cnt FROM dbc GROUP BY 1),
       |tgt AS (SELECT b, sum(c) AS t_cnt FROM dbc WHERE is_target GROUP BY 1),
       |tab AS (
       |  SELECT raw.b, ((coalesce(t_cnt, 0) + 1) * 1000000) // (r_cnt + 1) AS ratio_fp
       |  FROM raw LEFT JOIN tgt USING (b)),
       |sc AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
       |         CAST(sum(c * ratio_fp) AS BIGINT) AS score_fp
       |  FROM dbc JOIN tab USING (b) GROUP BY 1)
       |SELECT t.doc_id, coalesce(n_grams, 0) AS n_grams,
       |       coalesce(score_fp, 0) AS score_fp
       |FROM toks t LEFT JOIN sc USING (doc_id)
       |ORDER BY doc_id""".stripMargin


  /** Deterministic training-order shuffle: corpus permuted by id-hash
    * order, dealt round-robin into 8 balanced shards — rank via the
    * scalable grouped prefix sum, NOT a one-task global window (see
    * [[graft.llm.Sampling.shardAssign]]). The oracle recomputes the same
    * permutation with a window row_number, which DuckDB can afford at
    * oracle scale. */
  val q131_train_shuffle: Q = (s, d) =>
    graft.llm.Sampling.shardAssign(
        Tables.documents(s, d).select(col("doc_id")), "doc_id", nShards = 8)
      .orderBy(col("doc_id"))

  val q131_sql: String =
    """WITH r AS (
      |  SELECT doc_id,
      |         row_number() OVER (ORDER BY md5(cast(doc_id AS VARCHAR))) - 1 AS rk
      |  FROM documents)
      |SELECT doc_id, rk % 8 AS shard, rk // 8 AS shard_pos
      |FROM r ORDER BY doc_id""".stripMargin


  /** Source-interleaved curriculum layout — per-source shuffle + strict
    * round-robin dealing across sources, both ranks via the scalable
    * grouped prefix sum (see [[graft.llm.Sampling.interleaveBySource]]).
    * The oracle recomputes both ranks as window row_numbers. */
  val q133_interleave: Q = (s, d) =>
    graft.llm.Sampling.interleaveBySource(
        Tables.documents(s, d).select(col("doc_id"), col("source")),
        "doc_id", "source")
      .select(col("doc_id"), col("source"), col("src_pos"), col("interleave_pos"))
      .orderBy(col("doc_id"))

  val q133_sql: String =
    """WITH s AS (
      |  SELECT doc_id, source,
      |         row_number() OVER (PARTITION BY source
      |                            ORDER BY md5(cast(doc_id AS VARCHAR))) - 1 AS src_pos
      |  FROM documents)
      |SELECT doc_id, source, src_pos,
      |       row_number() OVER (ORDER BY src_pos, source) - 1 AS interleave_pos
      |FROM s ORDER BY doc_id""".stripMargin


  /** FUZZY cross-corpus contamination — MinHash-LSH candidates between
    * the training corpus (doc_id ≢ 0 mod 7) and a benchmark set (≡ 0),
    * the probabilistic tier q114's exact-gram audit can't reach
    * (paraphrased/partially-copied eval items). Same hash family as q23,
    * corpus never self-joins (see [[graft.llm.Dedup.crossCorpusCandidates]]). */
  val q135_fuzzy_contamination: Q = (s, d) => {
    // staged signatures (DocLsh memo), row-filtered into the two sides: a
    // doc's signature depends only on its own shingles, so the split is
    // value-identical to signing each side separately — and the session
    // signs the corpus once instead of per invocation
    val sig = DocLsh.signatures(s, d)
    Dedup.crossCorpusCandidatesFromSig(
        sig.where(col("doc_id") % 7 =!= 0),
        sig.where(col("doc_id") % 7 === 0),
        LshK, LshBands)
      .orderBy(col("doc_id"), col("bench_id"))
  }

  val q135_sql: String =
    s"""WITH $shingleCtes,
       |$crossLshCtes
       |SELECT DISTINCT cb.doc_id, bb.bench_id
       |FROM cb JOIN bb ON cb.band = bb.band AND cb.bkey = bb.bkey
       |ORDER BY doc_id, bench_id""".stripMargin


  /** Hashed linear quality-classifier inference over a deterministic stub
    * weight table (Knuth-multiplicative pseudo-weights in ±10⁶ — the model
    * is a stub, the 256-slot hashed inference path is real; see
    * [[graft.llm.Curation.linearScore]]). */
  val q136_quality_classifier: Q = (s, d) => {
    val w = s.range(256).select(col("id").as("bucket"),
      expr("(id * 2654435761L) % 2000001 - 1000000").as("w_fp"))
    Curation.linearScore(Tables.documents(s, d), "text", "doc_id", w, 256)
      .orderBy(col("doc_id"))
  }

  val q136_sql: String =
    """WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS ts FROM documents),
      |w AS (SELECT i AS bucket, (i * 2654435761) % 2000001 - 1000000 AS w_fp
      |      FROM range(0, 256) t(i)),
      |tb AS (SELECT doc_id, ('0x' || substr(md5(u.tok), 1, 8))::BIGINT % 256 AS bucket
      |       FROM toks, unnest(ts) AS u(tok)),
      |sc AS (SELECT doc_id, count(*)::BIGINT AS n_tokens, sum(w_fp)::BIGINT AS score_fp
      |       FROM tb JOIN w USING (bucket) GROUP BY 1)
      |SELECT t.doc_id,
      |       coalesce(sc.n_tokens, 0) AS n_tokens,
      |       coalesce(sc.score_fp, 0) AS score_fp,
      |       coalesce(sc.score_fp, 0) > 0 AS keep
      |FROM toks t LEFT JOIN sc USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin


  /** Per-source percentile calibration (CCNet head/middle/tail shape) of
    * a per-doc score — ranks via the composite-order grouped prefix sum,
    * never a per-source window (see
    * [[graft.llm.Curation.calibrateBySource]]). Score = n_chars (the
    * calibration is score-agnostic; production plugs a perplexity). */
  val q137_score_calibration: Q = (s, d) =>
    Curation.calibrateBySource(Tables.documents(s, d), "n_chars", "doc_id", "source")
      .orderBy(col("doc_id"))

  val q137_sql: String =
    """WITH r AS (
      |  SELECT doc_id, source, n_chars AS score,
      |         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) - 1 AS rk,
      |         count(*) OVER (PARTITION BY source) AS n_s
      |  FROM documents)
      |SELECT doc_id, source, score,
      |       CASE WHEN n_s > 1 THEN (rk * 1000000) // (n_s - 1) ELSE 0 END AS pct_fp,
      |       CASE WHEN (CASE WHEN n_s > 1 THEN (rk * 1000000) // (n_s - 1) ELSE 0 END) * 3 < 1000000 THEN 'low'
      |            WHEN (CASE WHEN n_s > 1 THEN (rk * 1000000) // (n_s - 1) ELSE 0 END) * 3 < 2000000 THEN 'mid'
      |            ELSE 'high' END AS tercile
      |FROM r ORDER BY doc_id""".stripMargin


  /** Curation pipeline v3 — the ROUND-5 operators composed as one funnel
    * and certified under a single oracle hash (the q121 discipline applied
    * to the new family): hashed-classifier gate (q136's stub weights) →
    * fuzzy cross-corpus contamination gate (q135's LSH candidates) →
    * duplicated-substring coverage gate (q134, keep ≤ 50% duplicated) →
    * per-source rollup of stage survivors and kept chars. */
  val q138_curation_v3: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val corpus = docs.where(col("doc_id") % 7 =!= 0)
    val bench = docs.where(col("doc_id") % 7 === 0)
    val w = s.range(256).select(col("id").as("bucket"),
      expr("(id * 2654435761L) % 2000001 - 1000000").as("w_fp"))
    val clf = Curation.linearScore(corpus, "text", "doc_id", w, 256)
      .select(col("doc_id"), col("keep").as("k_clf"))
    // staged signatures split corpus/bench exactly as q135 (subset-vs-whole
    // signature invariance) — the shingle → 8-hash build runs once per
    // session instead of twice per q138 invocation
    val sig = DocLsh.signatures(s, d)
    val contam = Dedup.crossCorpusCandidatesFromSig(
        sig.where(col("doc_id") % 7 =!= 0),
        sig.where(col("doc_id") % 7 === 0),
        LshK, LshBands)
      .select(col("doc_id")).distinct()
      .withColumn("__hit", lit(true))
    val dup = Curation.dupSubstrings(corpus, "text", "doc_id", 20)
      .select(col("doc_id"), col("coverage_fp"))
    val flags = corpus.select(col("doc_id"), col("source"), col("n_chars"))
      .join(clf, Seq("doc_id"))
      .join(contam, Seq("doc_id"), "left")
      .join(dup, Seq("doc_id"))
      .select(col("source"), col("n_chars"), col("k_clf"),
        coalesce(col("__hit"), lit(false)).as("contaminated"),
        (col("coverage_fp") <= 500000L).as("k_dup"))
    flags.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("k_clf"), 1L).otherwise(0L)).as("n_clf"),
        sum(when(col("k_clf") && !col("contaminated"), 1L).otherwise(0L)).as("n_clean"),
        sum(when(col("k_clf") && !col("contaminated") && col("k_dup"), 1L)
          .otherwise(0L)).as("n_kept"),
        sum(when(col("k_clf") && !col("contaminated") && col("k_dup"), col("n_chars"))
          .otherwise(0L)).as("chars_kept"))
      .orderBy(col("source"))
  }

  val q138_sql: String =
    s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 7 <> 0),
       |ctoks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS ts FROM corpus),
       |w AS (SELECT i AS bucket, (i * 2654435761) % 2000001 - 1000000 AS w_fp FROM range(0, 256) t(i)),
       |tbl AS (SELECT doc_id, ('0x' || substr(md5(u.tok), 1, 8))::BIGINT % 256 AS bucket FROM ctoks, unnest(ts) AS u(tok)),
       |clf AS (SELECT doc_id, sum(w_fp) AS score FROM tbl JOIN w USING (bucket) GROUP BY 1),
       |$shingleCtes,
       |$crossLshCtes,
       |contam AS (SELECT DISTINCT cb.doc_id FROM cb JOIN bb ON cb.band = bb.band AND cb.bkey = bb.bkey),
       |d0 AS (SELECT doc_id, text, length(text)::BIGINT AS n FROM corpus),
       |grams AS (SELECT doc_id, i, md5(substr(text, i::INT, 20)) AS h FROM d0, unnest(range(1, n - 18)) AS t(i) WHERE n >= 20),
       |dup AS (SELECT h FROM grams GROUP BY h HAVING count(*) >= 2),
       |pos AS (SELECT doc_id, i FROM grams JOIN dup USING (h)),
       |seq AS (SELECT doc_id, i, lead(i) OVER (PARTITION BY doc_id ORDER BY i) AS ni FROM pos),
       |cov0 AS (SELECT doc_id, sum(CASE WHEN ni IS NULL THEN 20 ELSE least(ni - i, 20) END)::BIGINT AS dup_chars FROM seq GROUP BY doc_id),
       |cov AS (SELECT d0.doc_id, CASE WHEN d0.n > 0 THEN (coalesce(c.dup_chars, 0) * 1000000) // d0.n ELSE 0 END AS coverage_fp
       |        FROM d0 LEFT JOIN cov0 c USING (doc_id)),
       |flags AS (
       |  SELECT c.source, c.n_chars,
       |         coalesce(clf.score, 0) > 0 AS k_clf,
       |         contam.doc_id IS NOT NULL AS contaminated,
       |         cov.coverage_fp <= 500000 AS k_dup
       |  FROM corpus c LEFT JOIN clf USING (doc_id)
       |       LEFT JOIN contam USING (doc_id)
       |       JOIN cov USING (doc_id))
       |SELECT source, count(*)::BIGINT AS n_docs,
       |       sum(CASE WHEN k_clf THEN 1 ELSE 0 END)::BIGINT AS n_clf,
       |       sum(CASE WHEN k_clf AND NOT contaminated THEN 1 ELSE 0 END)::BIGINT AS n_clean,
       |       sum(CASE WHEN k_clf AND NOT contaminated AND k_dup THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       |       sum(CASE WHEN k_clf AND NOT contaminated AND k_dup THEN n_chars ELSE 0 END)::BIGINT AS chars_kept
       |FROM flags GROUP BY source ORDER BY source""".stripMargin


  /** Curation pipeline v4 — the ROUND-6 operators composed as one funnel
    * and certified under a single oracle hash (the q121/q138 discipline):
    * wide-band multi-probe SimHash near-dup removal (q142's operator at
    * dedup threshold Hamming ≤ 3, greedy min-id keeper) → Kneser–Ney
    * fluency scoring RE-FIT on the deduped survivors (dedup before LM
    * counting, so duplicate mass can't inflate the counts — the order
    * production pipelines use) → per-source percentile calibration of the
    * fluency score (q137's operator) → per-source tercile rollup.
    * The survivor frame feeds three consumers and is checkpointed
    * (the q121 re-execution lesson). */
  val q147_curation_v4: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // staged simhash-64 fingerprints (DocLsh memo — the q142/q145 frame):
    // Dedup.simhash(documents, text, doc_id, 64) is exactly what
    // simhashMultiProbePairs would rebuild here, so the fingerprint pass
    // runs once per session instead of once per q147 invocation
    val losers = Dedup.simhashMultiProbePairsFromFp(
        DocLsh.simhashFp(s, d, 64), 64, 16, maxHamming = 3)
      .select(col("doc_b").as("doc_id")).distinct()
    val survivors = docs.join(losers, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    val kn = Curation.lmScoreKN(survivors, "text", "doc_id")
    val scored = survivors.select(col("doc_id"), col("source"))
      .join(kn.select(col("doc_id"), col("avg_fp")), Seq("doc_id"))
    val cal = Curation.calibrateBySource(scored, "avg_fp", "doc_id", "source")
    cal.groupBy(col("source"), col("tercile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("score")).as("sum_avg_fp"))
      .orderBy(col("source"), col("tercile"))
  }

  val q147_sql: String = {
    val bandBits = 16
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
       |losers AS (SELECT DISTINCT i.doc_id
       |           FROM probes p JOIN idx i
       |             ON p.band = i.band AND p.bkey = i.bkey AND p.doc_id < i.doc_id
       |           WHERE bit_count(xor(p.simhash, i.simhash)) <= 3),
       |survivors AS (SELECT * FROM documents
       |              WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
       |toks AS (SELECT doc_id, source, list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS w FROM survivors),
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
       |       FROM db JOIN lm USING (g) GROUP BY 1),
       |scored AS (SELECT t.doc_id, t.source,
       |             CASE WHEN coalesce(sc.n_bigrams, 0) > 0
       |                  THEN sc.score_fp // sc.n_bigrams ELSE 0 END AS score
       |           FROM toks t LEFT JOIN sc USING (doc_id)),
       |r AS (SELECT doc_id, source, score,
       |        row_number() OVER (PARTITION BY source ORDER BY score, doc_id) - 1 AS rk,
       |        count(*) OVER (PARTITION BY source) AS n_s
       |      FROM scored),
       |cal AS (SELECT source, score,
       |          CASE WHEN (CASE WHEN n_s > 1 THEN (rk * 1000000) // (n_s - 1) ELSE 0 END) * 3 < 1000000 THEN 'low'
       |               WHEN (CASE WHEN n_s > 1 THEN (rk * 1000000) // (n_s - 1) ELSE 0 END) * 3 < 2000000 THEN 'mid'
       |               ELSE 'high' END AS tercile
       |        FROM r)
       |SELECT source, tercile, count(*)::BIGINT AS n_docs,
       |       CAST(sum(score) AS BIGINT) AS sum_avg_fp
       |FROM cal GROUP BY 1, 2 ORDER BY source, tercile""".stripMargin
  }


  /** Gopher STRUCTURAL quality rules — [[Curation.gopherRules]]'s
    * row-local token/line scans vs the oracle's independent list-filter
    * recomputation; every stat is an integer and the keep flag pure
    * cross-multiplied integer arithmetic, so the whole rule set
    * hash-matches exactly. */
  val q149_gopher_rules: Q = (s, d) =>
    Curation.gopherRules(Tables.documents(s, d), "text", "doc_id")
      .orderBy(col("doc_id"))

  val q149_sql: String =
    s"""WITH $gopherStatCtes
       |SELECT doc_id, n_words, sum_word_chars, n_alpha_words, n_stop_hits,
       |       n_lines, n_bullet_lines, n_ellipsis_lines,
       |  $gopherKeepSql AS keep
       |FROM gst ORDER BY doc_id""".stripMargin


  /** C4 line-level cleaning — [[Curation.c4Clean]]'s array-filter +
    * reassembly vs the oracle's independent list pipeline. `clean_text`
    * itself is hash-compared, so the line predicate AND the in-order
    * reassembly are both certified (q113's discipline).
    *
    * The synthetic corpus is single-line and punctuation-free — raw, every
    * line fails the terminal-punctuation test and the cert would be
    * vacuous — so the query first DECORATES the text deterministically
    * (the same non-overlapping left-to-right `replace` chain on both
    * engines): sentence breaks before two common tokens give a mix of
    * surviving and dropped lines, which is what makes the reassembly
    * certification meaningful. */
  val q150_c4_clean: Q = (s, d) => {
    val deco = Tables.documents(s, d).withColumn("text",
      replace(replace(col("text"), lit(" table "), lit(".\ntable ")),
        lit(" spark "), lit("!\nspark ")))
    Curation.c4Clean(deco, "text", "doc_id")
      .orderBy(col("doc_id"))
  }

  val q150_sql: String =
    s"""WITH $c4LineCtes
       |SELECT doc_id, len(ls)::BIGINT AS n_lines, len(kl)::BIGINT AS n_kept,
       |  length(coalesce(array_to_string(kl, chr(10)), ''))::BIGINT AS kept_chars,
       |  coalesce(array_to_string(kl, chr(10)), '') AS clean_text,
       |  (len(kl) >= 1) AS keep
       |FROM ck ORDER BY doc_id""".stripMargin


  /** Per-source document cap — [[Sampling.capPerSource]]'s grouped-prefix-
    * sum rank (never a per-source window) vs the oracle's window
    * row_number over the same (md5(id), id) order. */
  val q151_source_cap: Q = (s, d) => {
    val docs = Tables.widen(Tables.documents(s, d))
      .select(col("doc_id"), col("source"))
    Sampling.capPerSource(docs, "doc_id", "source", 20L)
      .select(col("doc_id"), col("source"), col("cap_rank"), col("kept"))
      .orderBy(col("doc_id"))
  }

  val q151_sql: String =
    """WITH r AS (SELECT doc_id, source,
      |  row_number() OVER (PARTITION BY source
      |                     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS cap_rank
      |  FROM documents)
      |SELECT doc_id, source, cap_rank, cap_rank <= 20 AS kept
      |FROM r ORDER BY doc_id""".stripMargin


  /** Curation pipeline v5 — the ROUND-6 operators composed as one funnel
    * under a single oracle hash (the q121/q138/q147 discipline): Gopher
    * structural gate (q149) ∧ C4 line-survival gate (q150's decorated
    * corpus) → per-source cap on the survivors (q151's hash-rank rule,
    * cap 10 — low enough to bite on most sources at sf0.01) → per-source rollup of survivor and capped-kept counts plus
    * kept chars. */
  val q155_curation_v5: Q = (s, d) => {
    val docs = Tables.widen(Tables.documents(s, d))
    val g = Curation.gopherRules(docs, "text", "doc_id")
      .select(col("doc_id"), col("keep").as("k_gopher"))
    val deco = docs.withColumn("text",
      replace(replace(col("text"), lit(" table "), lit(".\ntable ")),
        lit(" spark "), lit("!\nspark ")))
    val c = Curation.c4Clean(deco, "text", "doc_id")
      .select(col("doc_id"), col("keep").as("k_c4"))
    val survivors = docs.select(col("doc_id"), col("source"), col("n_chars"))
      .join(g, Seq("doc_id")).join(c, Seq("doc_id"))
      .where(col("k_gopher") && col("k_c4"))
    val capped = Sampling.capPerSource(survivors, "doc_id", "source", 10L)
    capped.groupBy(col("source"))
      .agg(count(lit(1)).as("n_survivors"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_capped_kept"),
        sum(when(col("kept"), col("n_chars")).otherwise(0L)).as("kept_chars"))
      .orderBy(col("source"))
  }

  val q155_sql: String =
    s"""WITH $gopherStatCtes,
       |gk AS (SELECT doc_id, $gopherKeepSql AS k_gopher FROM gst),
       |$c4LineCtes,
       |c4k AS (SELECT doc_id, (len(kl) >= 1) AS k_c4 FROM ck),
       |surv AS (SELECT d.doc_id, d.source, d.n_chars
       |         FROM documents d JOIN gk USING (doc_id) JOIN c4k USING (doc_id)
       |         WHERE k_gopher AND k_c4),
       |r AS (SELECT *, row_number() OVER (PARTITION BY source
       |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 10 AS kept FROM surv)
       |SELECT source, count(*)::BIGINT AS n_survivors,
       |       sum(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS n_capped_kept,
       |       sum(CASE WHEN kept THEN n_chars ELSE 0 END)::BIGINT AS kept_chars
       |FROM r GROUP BY 1 ORDER BY source""".stripMargin


  /** Temperature-scaled mixture quotas — [[Sampling.temperatureQuotas]]'
    * integer-exact ⌊√c⌋ weights + Hamilton largest-remainder rounding
    * over the `lang` grouping (the one with uneven counts, so remainders
    * and the alphabetical tie-break both genuinely fire) vs the oracle's
    * window-based replay. Σ quota = 1000 exactly on both engines. */
  val q160_lang_quota: Q = (s, d) =>
    Sampling.temperatureQuotas(
        Tables.widen(Tables.documents(s, d)).select(col("lang")), "lang", 1000L)
      .orderBy(col("source"))

  val q160_sql: String =
    """WITH c AS (SELECT lang AS source, count(*)::BIGINT AS n_docs FROM documents GROUP BY 1),
      |w0 AS (SELECT source, n_docs, CAST(floor(sqrt(n_docs::DOUBLE)) AS BIGINT) AS w0 FROM c),
      |w AS (SELECT source, n_docs,
      |        CASE WHEN (w0+1)*(w0+1) <= n_docs THEN w0+1
      |             WHEN w0*w0 > n_docs THEN w0-1 ELSE w0 END AS w FROM w0),
      |t AS (SELECT *, sum(w) OVER () AS tw FROM w),
      |sh AS (SELECT source, n_docs, w, CAST((1000 * w) // tw AS BIGINT) AS base,
      |         CAST((1000 * w) % tw AS BIGINT) AS rem FROM t),
      |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rem_rank,
      |             sum(base) OVER () AS sb FROM sh)
      |SELECT source, n_docs, w, base, rem, rem_rank::BIGINT AS rem_rank,
      |       base + CASE WHEN rem_rank <= 1000 - sb THEN 1 ELSE 0 END AS quota
      |FROM r ORDER BY source""".stripMargin


  /** Per-source token budget — [[Sampling.tokenBudgetPerSource]]'s
    * grouped-prefix-sum cumulative token count in (md5(id), id) order
    * (never a per-source window) vs the oracle's window replay of the
    * same order. Budget 600 bites mid-source everywhere (sources carry
    * ~1.1–1.6k tokens), so kept flips inside every group. */
  val q161_token_budget: Q = (s, d) => {
    val docs = Tables.widen(Tables.documents(s, d))
      .select(col("doc_id"), col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
    Sampling.tokenBudgetPerSource(docs, "doc_id", "source", "n_tokens", 600L)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("cum_tokens"), col("kept"))
      .orderBy(col("doc_id"))
  }

  val q161_sql: String =
    """WITH t AS (SELECT doc_id, source,
      |  len(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> ''))::BIGINT AS n_tokens
      |  FROM documents),
      |c AS (SELECT doc_id, source, n_tokens,
      |        sum(n_tokens) OVER (PARTITION BY source
      |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS cum_tokens
      |      FROM t)
      |SELECT doc_id, source, n_tokens, CAST(c.cum_tokens AS BIGINT) AS cum_tokens,
      |       c.cum_tokens <= 600 AS kept
      |FROM c ORDER BY doc_id""".stripMargin


  /** Curation pipeline v6 — this round's operators composed as one funnel
    * under a single oracle hash (the q121/q138/q147/q155 discipline):
    * Gopher structural gate (q149) ∧ novelty ≥ 0.5 gate (q162, kills the
    * near-dup copy of every q159 pair) → per-source TOKEN budget on the
    * survivors (q161's rule, budget 400 so it bites after the gates) →
    * per-source rollup of survivor/admitted counts and admitted tokens. */
  val q163_curation_v6: Q = (s, d) => {
    val docs = Tables.widen(Tables.documents(s, d))
    val g = Curation.gopherRules(docs, "text", "doc_id")
      .select(col("doc_id"), col("n_words"), col("keep").as("k_gopher"))
    val nov = Dedup.ngramNovelty(docs, "text", "doc_id", 5)
      .select(col("doc_id"), col("novelty_fp"))
    val survivors = docs.select(col("doc_id"), col("source"))
      .join(g, Seq("doc_id")).join(nov, Seq("doc_id"))
      .where(col("k_gopher") && col("novelty_fp") >= 500000L)
    val admitted = Sampling.tokenBudgetPerSource(
      survivors, "doc_id", "source", "n_words", 400L)
    admitted.groupBy(col("source"))
      .agg(count(lit(1)).as("n_survivors"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_admitted"),
        sum(when(col("kept"), col("n_words")).otherwise(0L)).as("admitted_tokens"))
      .orderBy(col("source"))
  }

  val q163_sql: String =
    s"""WITH $gopherStatCtes,
       |gk AS (SELECT doc_id, n_words, $gopherKeepSql AS k_gopher FROM gst),
       |g5 AS (SELECT DISTINCT doc_id,
       |        w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS gram
       |      FROM gt, unnest(range(1, len(w) - 3)) AS u(i) WHERE len(w) >= 5),
       |own AS (SELECT gram, min(doc_id) AS owner FROM g5 GROUP BY 1),
       |nov AS (SELECT g5.doc_id, count(*)::BIGINT AS n_grams,
       |          sum(CASE WHEN own.owner = g5.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_novel
       |        FROM g5 JOIN own USING (gram) GROUP BY 1),
       |surv AS (SELECT d.doc_id, d.source, gk.n_words
       |         FROM documents d JOIN gk USING (doc_id) JOIN nov USING (doc_id)
       |         WHERE gk.k_gopher AND nov.n_novel * 2 >= nov.n_grams),
       |adm AS (SELECT *, sum(n_words) OVER (PARTITION BY source
       |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 400 AS kept FROM surv)
       |SELECT source, count(*)::BIGINT AS n_survivors,
       |       sum(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS n_admitted,
       |       sum(CASE WHEN kept THEN n_words ELSE 0 END)::BIGINT AS admitted_tokens
       |FROM adm GROUP BY 1 ORDER BY source""".stripMargin


  /** Epoch-repetition mixing plan — [[Sampling.epochPlan]] per `lang` with
    * a flat 9 000-token quota: lang token totals run ~3.5k–11.8k, so
    * `full_epochs` spans 0–2 and the fractional hash-order tail bites in
    * every group — upsampling and downsampling certified in one frame. */
  val q167_epoch_mix: Q = (s, d) => {
    val docs = Tables.widen(Tables.documents(s, d))
      .select(col("doc_id"), col("lang"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
    val quotas = docs.select(col("lang").as("source")).distinct()
      .withColumn("quota", lit(9000L))
    Sampling.epochPlan(docs, "doc_id", "lang", "n_tokens", quotas, Some(8L))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_tokens"),
        col("full_epochs"), col("extra"), col("n_copies"))
      .orderBy(col("doc_id"))
  }

  val q167_sql: String =
    """WITH t AS (SELECT doc_id, lang,
      |  len(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> ''))::BIGINT AS n_tokens
      |  FROM documents),
      |tt AS (SELECT lang, sum(n_tokens) AS st FROM t GROUP BY 1),
      |c AS (SELECT doc_id, lang, n_tokens,
      |        sum(n_tokens) OVER (PARTITION BY lang
      |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS cum
      |      FROM t)
      |SELECT c.doc_id, c.lang, c.n_tokens, CAST(c.cum AS BIGINT) AS cum_tokens,
      |       CAST(9000 // tt.st AS BIGINT) AS full_epochs,
      |       c.cum <= 9000 % tt.st AS extra,
      |       CAST(9000 // tt.st + CASE WHEN c.cum <= 9000 % tt.st THEN 1 ELSE 0 END AS BIGINT) AS n_copies
      |FROM c JOIN tt USING (lang) ORDER BY doc_id""".stripMargin


  /** Length-bucketed batching pre-flight — [[Sampling.lengthBuckets]]'
    * power-of-two buckets + padding-waste stats vs the oracle's CASE
    * replay. One row-local CASE, one ≤9-key groupBy. */
  val q169_length_buckets: Q = (s, d) => {
    val toks = Tables.widen(Tables.documents(s, d))
      .select(size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
    Sampling.lengthBuckets(toks, "n_tokens").orderBy(col("bucket"))
  }

  val q169_sql: String =
    """WITH t AS (SELECT
      |  len(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> ''))::BIGINT AS n
      |  FROM documents),
      |b AS (SELECT n,
      |        CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32 WHEN n <= 64 THEN 64
      |             WHEN n <= 128 THEN 128 WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512
      |             WHEN n <= 1024 THEN 1024 ELSE 2048 END AS bucket
      |      FROM t WHERE n > 0),
      |g AS (SELECT CAST(bucket AS BIGINT) AS bucket, count(*)::BIGINT AS n_docs,
      |        sum(n)::BIGINT AS sum_tokens,
      |        sum(CASE WHEN bucket - n > 0 THEN bucket - n ELSE 0 END)::BIGINT AS padding
      |      FROM b GROUP BY 1)
      |SELECT bucket, n_docs, sum_tokens, padding,
      |       (padding * 1000000) // (n_docs * bucket) AS waste_fp
      |FROM g ORDER BY bucket""".stripMargin


  /** Curation pipeline v7 — this round's operators composed as one
    * training-mix manifest under a single hash: OOV gate (V=20 vocab,
    * rate < 0.32 — the median, so roughly half survive) → power-of-two
    * length bucket per survivor → per-lang 9 000-token epoch plan on the
    * survivors → rollup per (lang, bucket): docs, planned copies, planned
    * training tokens (Σ n_copies·n_tokens). */
  val q171_curation_v7: Q = (s, d) => {
    val docs = Tables.widen(Tables.documents(s, d))
    val oov = TextAnalysis.vocabCoverage(docs, "text", "doc_id", 20)
      .where(col("n_tokens") > 0 && col("oov_fp") < 320000L)
      .select(col("doc_id"), col("n_tokens"))
    val survivors = docs.select(col("doc_id"), col("lang"))
      .join(oov, Seq("doc_id"))
      .localCheckpoint(true) // two consumers: quotas + the plan itself
    val quotas = survivors.select(col("lang").as("source")).distinct()
      .withColumn("quota", lit(9000L))
    val planned = Sampling.epochPlan(survivors, "doc_id", "lang", "n_tokens",
      quotas, Some(8L))
    val edges = Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L, 2048L)
    val bucket = edges.init.reverse.foldLeft(lit(edges.last)) { (acc, e) =>
      when(col("n_tokens") <= e, e).otherwise(acc)
    }
    planned.withColumn("bucket", bucket)
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_copies")).as("planned_copies"),
        sum(col("n_copies") * col("n_tokens")).as("planned_tokens"))
      .orderBy(col("lang"), col("bucket"))
  }

  val q171_sql: String =
    """WITH tok AS (SELECT doc_id,
      |  unnest(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '')) AS term
      |  FROM documents),
      |vc AS (SELECT term, count(*) AS cnt FROM tok GROUP BY 1),
      |v AS (SELECT term FROM vc ORDER BY cnt DESC, term LIMIT 20),
      |pd AS (SELECT tok.doc_id, count(*)::BIGINT AS n_tokens,
      |         sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov
      |       FROM tok LEFT JOIN v ON tok.term = v.term GROUP BY 1),
      |surv AS (SELECT d.doc_id, d.lang, pd.n_tokens
      |         FROM documents d JOIN pd USING (doc_id)
      |         WHERE pd.n_tokens > 0 AND (pd.n_oov * 1000000) // pd.n_tokens < 320000),
      |tt AS (SELECT lang, sum(n_tokens) AS st FROM surv GROUP BY 1),
      |c AS (SELECT doc_id, lang, n_tokens,
      |        sum(n_tokens) OVER (PARTITION BY lang
      |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS cum
      |      FROM surv),
      |pl AS (SELECT c.doc_id, c.lang, c.n_tokens,
      |         CAST(9000 // tt.st + CASE WHEN c.cum <= 9000 % tt.st THEN 1 ELSE 0 END AS BIGINT) AS n_copies
      |       FROM c JOIN tt USING (lang)),
      |bk AS (SELECT lang, n_tokens, n_copies,
      |         CASE WHEN n_tokens <= 16 THEN 16 WHEN n_tokens <= 32 THEN 32
      |              WHEN n_tokens <= 64 THEN 64 WHEN n_tokens <= 128 THEN 128
      |              WHEN n_tokens <= 256 THEN 256 WHEN n_tokens <= 512 THEN 512
      |              WHEN n_tokens <= 1024 THEN 1024 ELSE 2048 END AS bucket
      |       FROM pl)
      |SELECT lang, CAST(bucket AS BIGINT) AS bucket, count(*)::BIGINT AS n_docs,
      |       sum(n_copies)::BIGINT AS planned_copies,
      |       sum(n_copies * n_tokens)::BIGINT AS planned_tokens
      |FROM bk GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin


  /** Curation v8 — the round-7-tail composition: the per-source release
    * manifest over the INCREMENTALLY MAINTAINED corpus. The card stats
    * come from the q193 IVM discipline (base partial + weighted-changelog
    * partial, merged on the bounded source key — the base is never
    * rescanned for stats); the vocabulary skyline (q194's two-window
    * frontier) and the top-3 length exemplars (q197's map-side-combined
    * aggregate, pivoted by rank into deterministic columns) both run over
    * the maintained corpus, localCheckpoint'ed once for the fan-out (the
    * q121 lesson); every join is on the bounded source key. Admission:
    * frontier share < 10% (a source whose docs are mostly
    * Pareto-extremal has a degenerate length/vocabulary distribution). */
  val q200_curation_v8: Q = (s, d) => {
    import graft.operators.{Incremental, Skyline, TopK}
    val doc = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"), col("text"))
    val base = doc.where(col("doc_id") % 10 < 8)
    val state = Incremental.partial(
      base, Seq("source"), lit(1L), Seq("tot_chars" -> col("n_chars")))
    val changes = doc.where(col("doc_id") % 10 >= 8).withColumn("w", lit(1L))
      .unionByName(base.where(col("doc_id") % 97 === 0).withColumn("w", lit(-1L)))
    val card = Incremental.merge(
      Seq(state, Incremental.partial(changes, Seq("source"), col("w"),
        Seq("tot_chars" -> col("n_chars")))),
      Seq("source"))
    val kept = doc
      .where((col("doc_id") % 10 < 8 && col("doc_id") % 97 =!= 0) ||
        col("doc_id") % 10 >= 8)
      .select(col("doc_id"), col("source"), col("n_chars"),
        size(array_distinct(TextAnalysis.tokens(col("text")))).cast("long")
          .as("vocab"))
      .localCheckpoint(true)
    val frontier = Skyline.frontier2d(kept, "source", "n_chars", "vocab")
      .groupBy(col("source")).agg(count(lit(1)).as("n_frontier"))
    val ex = TopK.topKByGroup(kept.select("source", "n_chars", "doc_id"),
        "source", "n_chars", "doc_id", 3)
      .groupBy(col("source"))
      .agg(max(when(col("rank") === 1, col("doc_id"))).as("ex1"),
        max(when(col("rank") === 2, col("doc_id"))).as("ex2"),
        max(when(col("rank") === 3, col("doc_id"))).as("ex3"))
    card.join(frontier, Seq("source")).join(ex, Seq("source"))
      .select(col("source"), col("n_rows").as("n_docs"), col("tot_chars"),
        col("n_frontier"), col("ex1"), col("ex2"), col("ex3"))
      .withColumn("frontier_share_fp",
        expr("(n_frontier * 1000000) div n_docs"))
      .withColumn("admit", col("frontier_share_fp") < 100000L)
      .orderBy(col("source"))
  }

  val q200_sql: String =
    """WITH m AS (SELECT doc_id, source, n_chars, text FROM documents
      |           WHERE (doc_id % 10 < 8 AND doc_id % 97 <> 0)
      |              OR doc_id % 10 >= 8),
      |card AS (SELECT source, count(*)::BIGINT AS n_docs,
      |                sum(n_chars)::BIGINT AS tot_chars
      |         FROM m GROUP BY 1),
      |v AS (SELECT doc_id, source, n_chars,
      |    len(list_distinct(list_filter(string_split_regex(lower(text), '\W+'),
      |                                  x -> x <> '')))::BIGINT AS vocab
      |  FROM m),
      |w AS (SELECT *,
      |    max(vocab) OVER (PARTITION BY source ORDER BY n_chars
      |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m1,
      |    max(vocab) OVER (PARTITION BY source ORDER BY n_chars
      |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m2
      |  FROM v),
      |f AS (SELECT source, count(*)::BIGINT AS n_frontier FROM w
      |      WHERE (m1 IS NULL OR m1 < vocab) AND m2 <= vocab GROUP BY 1),
      |r AS (SELECT source, doc_id, row_number() OVER (PARTITION BY source
      |        ORDER BY n_chars DESC, doc_id) AS rn FROM m),
      |ex AS (SELECT source, max(CASE WHEN rn = 1 THEN doc_id END) AS ex1,
      |              max(CASE WHEN rn = 2 THEN doc_id END) AS ex2,
      |              max(CASE WHEN rn = 3 THEN doc_id END) AS ex3
      |       FROM r WHERE rn <= 3 GROUP BY 1)
      |SELECT card.source, n_docs, tot_chars, n_frontier, ex1, ex2, ex3,
      |       ((n_frontier * 1000000) // n_docs)::BIGINT AS frontier_share_fp,
      |       ((n_frontier * 1000000) // n_docs) < 100000 AS admit
      |FROM card JOIN f USING (source) JOIN ex USING (source)
      |ORDER BY source""".stripMargin


  /** Curation v9 — the round-7-tail composition: a per-source release
    * manifest from the NEW primitive family. Redundancy comes from the
    * KMV sketches (max pairwise vocabulary-overlap estimate against any
    * other source — k·|sources| state, no exact vocab join); the length
    * profile from the token-weighted exact median
    * ([[graft.operators.WeightedMedian]]) and the equi-depth quartile
    * cuts ([[graft.operators.EquiDepth]] — both on the range-partitioned
    * prefix sum, no per-source window); the corpus frame fans out to all
    * three passes, so it is localCheckpoint'ed once (the q121 lesson).
    * Every join after the corpus passes is on the |sources|-bounded key.
    * Admission: no source may be >50% vocabulary-redundant with another
    * (sketch estimate, certified hash-exact). */
  val q219_curation_v9: Q = (s, d) => {
    import graft.operators.{EquiDepth, Kmv, WeightedMedian}
    val doc = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
        TextAnalysis.tokens(col("text")).as("tk"))
      .withColumn("n_tok", size(col("tk")).cast("long"))
      .localCheckpoint(true)
    val sk = Kmv.sketch(
      doc.select(col("source"), explode(col("tk")).as("tok")),
      "source", "tok", k = 64)
    val ov = Kmv.pairEstimates(sk, "source", k = 64)
    val maxOv = ov.select(col("ga").as("source"), col("jaccard_est_fp"))
      .unionByName(ov.select(col("gb").as("source"), col("jaccard_est_fp")))
      .groupBy(col("source"))
      .agg(max(col("jaccard_est_fp")).as("max_overlap_fp"))
    val med = WeightedMedian.lower(
      doc.withColumn("w", col("n_tok") + 1), "source", "n_chars", "doc_id", "w")
    val ed = EquiDepth.histogram(
      doc.select(col("source"), col("n_chars"), col("doc_id")),
      "source", "n_chars", "doc_id", b = 4)
      .groupBy(col("source"))
      .agg(max(when(col("bucket") === 0, col("hi"))).as("p25_hi"),
        max(when(col("bucket") === 3, col("lo"))).as("p75_lo"))
    med.join(ed, Seq("source")).join(maxOv, Seq("source"))
      .withColumn("admit", col("max_overlap_fp") < 500000L)
      .orderBy(col("source"))
  }

  val q219_sql: String =
    """WITH toks AS (SELECT doc_id, source, n_chars,
      |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS tk
      |  FROM documents),
      |tok1 AS (SELECT source, unnest(tk) AS tok FROM toks),
      |hs AS (SELECT DISTINCT source,
      |         ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM tok1),
      |sk AS (SELECT source, h FROM (
      |         SELECT source, h,
      |           row_number() OVER (PARTITION BY source ORDER BY h) AS r
      |         FROM hs) WHERE r <= 64),
      |sides AS (
      |  SELECT s.source AS ga, g.source AS gb, s.h, 1 AS in_a, 0 AS in_b
      |  FROM sk s JOIN (SELECT DISTINCT source FROM sk) g ON s.source < g.source
      |  UNION ALL
      |  SELECT g.source AS ga, s.source AS gb, s.h, 0 AS in_a, 1 AS in_b
      |  FROM sk s JOIN (SELECT DISTINCT source FROM sk) g ON g.source < s.source),
      |mm AS (SELECT ga, gb, h, max(in_a) AS in_a, max(in_b) AS in_b
      |       FROM sides GROUP BY 1, 2, 3),
      |rk AS (SELECT *, row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS r
      |       FROM mm),
      |agg AS (SELECT ga, gb, count(*)::BIGINT AS m,
      |          sum(in_a * in_b)::BIGINT AS n_both
      |        FROM rk WHERE r <= 64 GROUP BY 1, 2),
      |mo AS (SELECT source, max(j)::BIGINT AS max_overlap_fp FROM (
      |         SELECT ga AS source, (n_both * 1000000) // m AS j FROM agg
      |         UNION ALL
      |         SELECT gb AS source, (n_both * 1000000) // m AS j FROM agg)
      |       GROUP BY 1),
      |wm0 AS (SELECT source, n_chars::BIGINT AS v, doc_id,
      |          (len(tk) + 1)::BIGINT AS w FROM toks),
      |wmc AS (SELECT source, v, w,
      |    sum(w) OVER (PARTITION BY source ORDER BY v, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
      |    sum(w) OVER (PARTITION BY source) AS wt FROM wm0),
      |wm AS (SELECT source, CAST(wt AS BIGINT) AS w_total, min(v) AS median
      |       FROM wmc WHERE 2 * cumw >= wt GROUP BY source, wt),
      |edr AS (SELECT source, n_chars::BIGINT AS v,
      |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS pos,
      |    count(*) OVER (PARTITION BY source) AS cnt FROM documents),
      |edh AS (SELECT source, ((pos - 1) * 4) // cnt AS bucket,
      |          min(v) AS lo, max(v) AS hi FROM edr GROUP BY 1, 2),
      |ed AS (SELECT source,
      |         max(CASE WHEN bucket = 0 THEN hi END) AS p25_hi,
      |         max(CASE WHEN bucket = 3 THEN lo END) AS p75_lo
      |       FROM edh GROUP BY 1)
      |SELECT wm.source, w_total, median, p25_hi, p75_lo, max_overlap_fp,
      |       max_overlap_fp < 500000 AS admit
      |FROM wm JOIN ed USING (source) JOIN mo USING (source)
      |ORDER BY wm.source""".stripMargin


  /** Curation v10 — the per-source release manifest composing this
    * round's audit statistics: (1) WINSORIZED mean token count (tokens
    * clipped to the source's exact p10/p90 — a few truncated or
    * concatenated documents can no longer drag the source's length
    * profile past a gate), and (2) the source's worst CHI-SQUARE
    * language-balance cell against the corpus lang margins (a source
    * whose language mix diverges hard from the corpus is quarantined
    * for review). Admission needs a healthy clipped length AND a
    * balanced mix. Shape: the doc frame (one corpus scan) is
    * localCheckpoint'ed and fans out to the rank pass (range-partitioned
    * prefix sum, |sources| hint — no per-source single-task window) and
    * the |sources|×|langs| cell aggregate; every join after is a
    * bounded broadcast. Deviations are exact BIGINTs; the only doubles
    * are one IEEE division per cell and their max. */
  val q233_curation_v10: Q = (s, d) => {
    val doc = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("one", lit(1L))
      .localCheckpoint(true) // consumers: rank pass + lang cells
    val ranked = graft.operators.RunningTotal.grouped(doc, "source",
        Seq("n_tok", "doc_id"), "one", "rnk", groupCountHint = Some(4096L))
      .localCheckpoint(true) // consumers: totals + 2 thresholds + clip scan
    val totals = ranked.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val withN = ranked.join(broadcast(totals), Seq("source"))
    def thr(pct: Int, name: String) = withN
      .where(col("rnk") * 100 >= col("n_docs") * pct)
      .groupBy(col("source")).agg(min(col("n_tok")).as(name))
    val win = withN
      .join(broadcast(thr(10, "lo")), Seq("source"))
      .join(broadcast(thr(90, "hi")), Seq("source"))
      .groupBy(col("source"))
      .agg(max(col("n_docs")).as("n_docs"), max(col("lo")).as("lo"),
        max(col("hi")).as("hi"),
        sum(greatest(col("lo"), least(col("hi"), col("n_tok")))).as("cs"))
      .withColumn("win_mean_ppm", expr("cs * 1000000 div n_docs"))
    val cells = doc.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_sl"))
      .localCheckpoint(true) // consumers: two margins + total + cell frame
    val nS = cells.groupBy(col("source")).agg(sum(col("n_sl")).as("n_s"))
    val nL = cells.groupBy(col("lang")).agg(sum(col("n_sl")).as("n_l"))
    val tot = cells.agg(sum(col("n_sl")).as("n"))
    val chi = cells
      .join(broadcast(nS), Seq("source"))
      .join(broadcast(nL), Seq("lang"))
      .crossJoin(broadcast(tot))
      .withColumn("dev", col("n") * col("n_sl") - col("n_s") * col("n_l"))
      .groupBy(col("source"))
      .agg(max((col("dev") * col("dev")).cast("double")
        / (col("n") * col("n_s") * col("n_l")).cast("double")).as("chi2_max"))
    win.join(chi, Seq("source"))
      .withColumn("admit",
        col("chi2_max") < 2.0 && col("win_mean_ppm") >= 52000000L)
      .select(col("source"), col("n_docs"), col("lo"), col("hi"),
        col("win_mean_ppm"), col("chi2_max"), col("admit"))
      .orderBy(col("source"))
  }

  val q233_sql: String =
    """WITH t AS (SELECT doc_id, source, lang,
      |    len(list_filter(string_split_regex(lower(text), '\W+'),
      |        x -> x <> ''))::BIGINT AS n_tok
      |  FROM documents),
      |r AS (SELECT source, n_tok,
      |    row_number() OVER (PARTITION BY source ORDER BY n_tok, doc_id) AS rnk,
      |    count(*) OVER (PARTITION BY source) AS n FROM t),
      |lo AS (SELECT source, min(n_tok) AS lo FROM r
      |       WHERE rnk * 100 >= n * 10 GROUP BY 1),
      |hi AS (SELECT source, min(n_tok) AS hi FROM r
      |       WHERE rnk * 100 >= n * 90 GROUP BY 1),
      |wm AS (SELECT r.source, CAST(max(n) AS BIGINT) AS n_docs,
      |         max(lo) AS lo, max(hi) AS hi,
      |         CAST((sum(greatest(lo, least(hi, n_tok))) * 1000000)
      |              // max(n) AS BIGINT) AS win_mean_ppm
      |       FROM r JOIN lo USING (source) JOIN hi USING (source)
      |       GROUP BY 1),
      |c AS (SELECT source, lang, count(*)::BIGINT AS n_sl FROM t
      |      GROUP BY 1, 2),
      |ns AS (SELECT source, sum(n_sl)::BIGINT AS n_s FROM c GROUP BY 1),
      |nl AS (SELECT lang, sum(n_sl)::BIGINT AS n_l FROM c GROUP BY 1),
      |tt AS (SELECT sum(n_sl)::BIGINT AS n FROM c),
      |chi AS (SELECT source,
      |          max(CAST((n * n_sl - n_s * n_l) * (n * n_sl - n_s * n_l)
      |                AS DOUBLE)
      |              / CAST(n * n_s * n_l AS DOUBLE)) AS chi2_max
      |        FROM c JOIN ns USING (source) JOIN nl USING (lang), tt
      |        GROUP BY 1)
      |SELECT source, n_docs, lo, hi, win_mean_ppm, chi2_max,
      |       (chi2_max < 2.0 AND win_mean_ppm >= 52000000) AS admit
      |FROM wm JOIN chi USING (source) ORDER BY source""".stripMargin


  /** CURATION v12 — the round-9d release gate: one verdict row per
    * source composing the three new eval primitives, all integer-exact.
    * (1) the per-source tie-averaged ROC AUC of the n_chars →
    * token-budget proxy (q305's rank-sum identity, grouped prefix sum
    * by source — a source whose cheap length gate stops predicting the
    * real token budget must not ship on that gate); (2) q308's
    * chars-per-token slope b1_ppm (Cramer normal equations — a slope
    * outside [4, 7] chars/token flags boilerplate or tokenizer-hostile
    * content); (3) the q309 fuzzy-dup MEMBERSHIP load (each verified
    * edit-distance pair counts once per involved source's tally, twice
    * for an intra-source pair — the per-source exposure measure).
    * Null-safe verdict: a source with one-class labels (AUC undefined)
    * or a collinear fit fails closed via coalesce(..., false) on BOTH
    * engines. Scale shapes inherited from the components: per-score /
    * per-source reductions bound everything after the scans, SNM
    * candidates are (w−1)-linear, and the verdict join is
    * |sources|-bounded. */
  val q310_curation_v12: Q = (s, d) => {
    val doc = Tables.documents(s, d)
    // (1) per-source AUC: q305's chars-vs-token-budget scorer through the
    // shared rank-sum fold (source grouping instead of scorer grouping)
    val scored = doc.select(col("source"), col("n_chars").as("score"),
      InfoQueries.charsVsTokensLabel(col("text")).as("pos"))
    val auc = InfoQueries.rankSumAuc(scored, "source", grpHint = 64L)
      .select(col("source"), col("n_all").as("n_docs"), col("auc_ppm"))
    // (2) chars-per-token slope from the shared q308 fit
    val slope = TextMiningQueries.olsBySource(doc)
      .select(col("source"), col("b1_ppm"))
    // (3) fuzzy-dup membership load from q309's shared blocking + verify
    val dupLoad = TextMiningQueries.editDistancePairs(doc)
      .select(explode(array(col("sa"), col("sb"))).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("dup_memberships"))
    auc.join(slope, Seq("source"))
      .join(dupLoad, Seq("source"), "left")
      .withColumn("dup_memberships",
        coalesce(col("dup_memberships"), lit(0L)))
      .withColumn("release",
        coalesce(col("auc_ppm") >= 900000L, lit(false)) &&
          coalesce(col("b1_ppm").between(4000000L, 7000000L), lit(false)) &&
          col("dup_memberships") * 5 <= col("n_docs"))
      .select(col("source"), col("n_docs"), col("auc_ppm"), col("b1_ppm"),
        col("dup_memberships"), col("release"))
      .orderBy(col("source"))
  }

  val q310_sql: String =
    """WITH ch AS (SELECT source, n_chars AS score,
      |    CASE WHEN len(regexp_extract_all(text,
      |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) > 56
      |    THEN 1 ELSE 0 END AS pos
      |  FROM documents),
      |g AS (SELECT source, score, count(*)::BIGINT AS n_s,
      |        sum(pos)::BIGINT AS p_s FROM ch GROUP BY 1, 2),
      |cm AS (SELECT source, n_s, p_s,
      |         sum(n_s) OVER (PARTITION BY source ORDER BY score) AS cum_n
      |       FROM g),
      |auc0 AS (SELECT source, sum(n_s)::BIGINT AS n_docs,
      |           sum(p_s)::BIGINT AS pos,
      |           sum(p_s * (2 * cum_n - n_s + 1))::BIGINT AS two_r_pos
      |         FROM cm GROUP BY 1),
      |auc AS (SELECT source, n_docs,
      |          ((two_r_pos - pos * (pos + 1)) * 1000000
      |           // nullif(2 * pos * (n_docs - pos), 0))::BIGINT AS auc_ppm
      |        FROM auc0),
      |t AS (SELECT source,
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
      |ols AS (SELECT source,
      |    (((n * (s1y * s22 - s2y * s12) - sy * (s1 * s22 - s12 * s2)
      |       + s2 * (s1 * s2y - s1y * s2)) * 1000000)
      |     // nullif(n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
      |       + s2 * (s1 * s12 - s11 * s2), 0))::BIGINT AS b1_ppm
      |  FROM a),
      |k AS (SELECT doc_id, source, substr(text, 1, 80) AS pfx,
      |    array_to_string((list_filter(string_split_regex(lower(text),
      |        '\W+'), x -> x <> ''))[1:4], ' ') AS sk
      |  FROM documents),
      |r AS (SELECT doc_id, row_number() OVER (ORDER BY sk, doc_id) AS r
      |      FROM k),
      |cand AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
      |                greatest(a.doc_id, b.doc_id) AS doc_b
      |         FROM r a JOIN r b ON b.r BETWEEN a.r + 1 AND a.r + 4),
      |v AS (SELECT doc_a, doc_b
      |      FROM cand JOIN k ka ON ka.doc_id = cand.doc_a
      |                JOIN k kb ON kb.doc_id = cand.doc_b
      |      WHERE levenshtein(ka.pfx, kb.pfx) <= 12),
      |dm AS (SELECT source, count(*)::BIGINT AS dup_memberships FROM (
      |         SELECT ka.source FROM v JOIN k ka ON ka.doc_id = v.doc_a
      |         UNION ALL
      |         SELECT kb.source FROM v JOIN k kb ON kb.doc_id = v.doc_b)
      |       GROUP BY 1)
      |SELECT auc.source, n_docs, auc_ppm, b1_ppm,
      |  coalesce(dup_memberships, 0)::BIGINT AS dup_memberships,
      |  (coalesce(auc_ppm >= 900000, false)
      |   AND coalesce(b1_ppm BETWEEN 4000000 AND 7000000, false)
      |   AND coalesce(dup_memberships, 0) * 5 <= n_docs) AS release
      |FROM auc JOIN ols USING (source) LEFT JOIN dm USING (source)
      |ORDER BY auc.source""".stripMargin
}
