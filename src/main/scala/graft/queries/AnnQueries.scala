package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.llm.{AllPairs, Bpe, CmsAgg, Curation, Dedup, Hll, Importance, Ivf, Multimodal, Pq, Quantize, RandomProjection, RollingHash, Sampling, SemDedup, SetJoin, Similarity, Sketch, TextAnalysis}
import graft.queries.LlmQueries._
import graft.queries.LlmTextQueries.{ApMaxDf, ApMinCos2Fp}

/** embedding / approximate-nearest-neighbor retrieval — split from the monolithic query registry
  * (round-8 maintainability); shared oracle-SQL helpers stay in the
  * origin object(s) (LlmQueries) with
  * package-private visibility. Same contract as every registry:
  * each `q<N>_<name>` query has a DuckDB `q<N>_sql` twin with identical
  * column names and deterministic ordering. */
object AnnQueries extends Registry {

  // --------------------------------------------------- similarity search
  /** Brute-force cosine top-10: 5 broadcast query vectors against the full
    * corpus — the ANN correctness baseline; corpus scanned once, no shuffle
    * of the corpus side. */
  val q26_topk_bruteforce: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.bruteForceTopK(emb.where(col("vec_id") < 5), emb, 10,
      dim = graft.io.Stats.embeddingDim(s, d))
      .orderBy(col("query_id"), col("rank"))
  }

  val q26_sql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5),
       |scored AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |         ${sqlCosine("q.qvec", "c.embedding")} AS cos_sim
       |  FROM embeddings c, q WHERE q.query_id <> c.vec_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |           FROM scored)
       |SELECT query_id, rank, neighbor_id, cos_sim FROM ranked
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin


  /** IVF-style pruned top-5: search only the query's coarse bucket (the
    * `label` column stands in for a centroid id) — bucket equi-join. */
  val q27_topk_ivf: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.bucketTopK(emb.where(col("vec_id") < 20), emb, 5, "label", dim = graft.io.Stats.embeddingDim(s, d))
      .orderBy(col("query_id"), col("rank"))
  }

  val q27_sql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qvec, label FROM embeddings WHERE vec_id < 20),
       |scored AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |         ${sqlCosine("q.qvec", "c.embedding")} AS cos_sim
       |  FROM embeddings c JOIN q ON c.label = q.label AND q.query_id <> c.vec_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |           FROM scored)
       |SELECT query_id, rank, neighbor_id, cos_sim FROM ranked
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin


  /** Embedding-cosine near-dup pairs inside sign-LSH buckets (leading-4-
    * component sign pattern): vectors only meet within a bucket — candidate
    * generation is O(bucket²), never O(n²). */
  val q28_embedding_neardup: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.embeddingNearDupPairs(emb, NearDupThreshold, SignBits, dim = graft.io.Stats.embeddingDim(s, d))
      .orderBy(col("id_a"), col("id_b"))
  }

  val q28_sql: String = {
    val bucket = (0 until SignBits)
      .map(b => s"CASE WHEN embedding[${b + 1}] > 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    s"""WITH b AS (SELECT vec_id, embedding, ($bucket) AS bucket FROM embeddings)
       |SELECT x.vec_id AS id_a, y.vec_id AS id_b,
       |       ${sqlCosine("x.embedding", "y.embedding")} AS cos_sim
       |FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
       |WHERE ${sqlCosine("x.embedding", "y.embedding")} >= $NearDupThreshold
       |ORDER BY id_a, id_b""".stripMargin
  }


  /** Multi-probe sign-LSH embedding near-dup: 8 sign bits in 2 bands of 4
    * with 1-bit band-key probes — candidate-complete for sign-Hamming ≤ 3,
    * catching near-dup vectors that straddle up to three coordinate
    * hyperplanes where q28's full-signature equality finds only exact sign
    * matches; every candidate verified with the exact cosine. */
  val q148_embedding_multiprobe: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.embeddingNearDupPairsMultiProbe(emb, NearDupThreshold,
        nBits = 8, bandBits = 4, dim = graft.io.Stats.embeddingDim(s, d))
      .orderBy(col("id_a"), col("id_b"))
  }

  val q148_sql: String = {
    val sig = (0 until 8)
      .map(b => s"CASE WHEN embedding[${b + 1}] > 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    s"""WITH b AS (SELECT vec_id, embedding, ($sig) AS sig FROM embeddings),
       |allbuckets AS (
       |  SELECT vec_id, 0 AS band, sig & 15 AS bkey FROM b
       |  UNION ALL
       |  SELECT vec_id, 1 AS band, (sig >> 4) & 15 AS bkey FROM b),
       |idx AS (SELECT vec_id, band, bkey FROM (
       |  SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bsz FROM allbuckets)
       |  WHERE bsz <= 1000),
       |probes AS (SELECT a.vec_id, a.band, xor(a.bkey, f.flip) AS bkey
       |           FROM allbuckets a, (VALUES (0), (1), (2), (4), (8)) AS f(flip)),
       |pairs AS (SELECT DISTINCT p.vec_id AS id_a, i.vec_id AS id_b
       |          FROM probes p JOIN idx i
       |            ON p.band = i.band AND p.bkey = i.bkey AND p.vec_id < i.vec_id)
       |SELECT pr.id_a, pr.id_b,
       |       ${sqlCosine("x.embedding", "y.embedding")} AS cos_sim
       |FROM pairs pr
       |JOIN embeddings x ON x.vec_id = pr.id_a
       |JOIN embeddings y ON y.vec_id = pr.id_b
       |WHERE ${sqlCosine("x.embedding", "y.embedding")} >= $NearDupThreshold
       |ORDER BY id_a, id_b""".stripMargin
  }


  /** IVF ANN with a learned k-means quantizer (8 cells, 2 Lloyd rounds,
    * nProbe=2) — FULL oracle since round 4: `Ivf.fit`'s per-cell means
    * accumulate in DECIMAL(27,12) and divide the count as a double, so the
    * fitted centroids are bit-identical across partitionings AND
    * reproducible in SQL; [[q35_sql]] unrolls the two Lloyd rounds as
    * generated CTEs (assign → decimal-exact elementwise means, twice) and
    * then mirrors q56's assign/probe/route/score tail. The nearest-centroid
    * and nProbe=all≡brute-force invariants remain scalatest-verified
    * (`IvfSpec`). */
  val q35_topk_ivf_kmeans: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val dim = graft.io.Stats.embeddingDim(s, d)
    val centroids = Ivf.fit(emb, 8, 2, dim)
    Ivf.topK(emb.where(col("vec_id") < 5), emb, centroids, 10, 2, dim)
      .orderBy(col("query_id"), col("rank"))
  }

  val q35_sql: String = {
    val cos = sqlCosine("e.embedding", "c.centroid")
    s"""WITH c0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
       |         list_transform(embedding, x -> x::DOUBLE) AS centroid
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
       |${lloydRoundSql("c0", 1)},
       |${lloydRoundSql("c1", 2)},
       |asg0 AS (
       |  SELECT e.vec_id, e.embedding, c.cell, $cos AS s
       |  FROM embeddings e, c2 c),
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
       |scored AS (
       |  SELECT p.query_id, a.neighbor_id, ${sqlCosine("p.qvec", "a.cvec")} AS cos_sim
       |  FROM assigned a JOIN probes p USING (cell)
       |  WHERE p.query_id <> a.neighbor_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id, cos_sim FROM ranked
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }


  /** q35's oracle-checked companion: the identical IVF assign → probe →
    * route → score pipeline, but with FIXED centroids (the k smallest-id
    * vectors — `Ivf.fit` with zero Lloyd rounds), which IS fully
    * SQL-expressible. A green row here certifies every moving part of q35
    * except the (scalatest-covered) Lloyd iteration itself. */
  val q56_topk_ivf_fixed: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val dim = graft.io.Stats.embeddingDim(s, d)
    val centroids = Ivf.fit(emb, 8, 0, dim)
    Ivf.topK(emb.where(col("vec_id") < 5), emb, centroids, 10, 2, dim)
      .orderBy(col("query_id"), col("rank"))
  }

  val q56_sql: String =
    s"""WITH $ivfFixedCtes
       |SELECT query_id, rank, neighbor_id, cos_sim FROM ivfranked
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin


  // ----------------------------------------------------------- quantization
  /** int8 embedding quantization: per-vector scale + compact checksums of
    * the quantized codes (position-weighted so permutations differ). */
  val q53_quantize_int8: Q = (s, d) => {
    val emb = Tables.widen(Tables.embeddings(s, d))
    Quantize.withQuantized(emb)
      .select(col("vec_id"),
        aggregate(zip_with(col("qvec"),
            sequence(lit(1), size(col("qvec"))), (q, i) => q * i),
          lit(0L), (acc, x) => acc + x).as("q_checksum"),
        aggregate(col("qvec"), lit(0L), (acc, q) => acc + abs(q)).as("q_l1"),
        col("qscale"))
      .orderBy(col("vec_id"))
  }

  val q53_sql: String =
    """WITH m AS (
      |  SELECT vec_id, embedding,
      |         list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS ma
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id, ma,
      |         list_transform(embedding, x ->
      |           CASE WHEN ma > 0 THEN CAST(floor(x::DOUBLE * 127.0 / ma) AS INT) ELSE 0 END) AS qv
      |  FROM m)
      |SELECT vec_id,
      |       CAST(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * i)) AS BIGINT) AS q_checksum,
      |       CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
      |       ma / 127.0 AS qscale
      |FROM q ORDER BY vec_id""".stripMargin


  /** Search over the COMPRESSED index: top-k cosine of original queries
    * against the int8-quantized-then-dequantized corpus — the standard
    * memory/bandwidth lever for billion-vector serving (store 4× smaller
    * codes + one scale per vector, reconstruct on the fly). Composes
    * [[Quantize]] with [[Similarity.bruteForceTopK]]; the oracle mirrors
    * the exact floor-quantize → q·(maxAbs/127) reconstruction, so the
    * ranking under quantization error is hash-checked, not approximated. */
  val q85_quantized_topk: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val dim = graft.io.Stats.embeddingDim(s, d)
    val deqCorpus = Quantize.withQuantized(emb)
      .select(col("vec_id"),
        Quantize.dequantize(col("qvec"), col("qscale")).as("embedding"))
    Similarity.bruteForceTopK(emb.where(col("vec_id") < 5), deqCorpus, 10, dim = dim)
      .orderBy(col("query_id"), col("rank"))
  }

  val q85_sql: String =
    s"""WITH m AS (
       |  SELECT vec_id, embedding,
       |         list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS ma
       |  FROM embeddings),
       |dq AS (
       |  SELECT vec_id,
       |         list_transform(
       |           list_transform(embedding, x ->
       |             CASE WHEN ma > 0 THEN CAST(floor(x::DOUBLE * 127.0 / ma) AS INT) ELSE 0 END),
       |           q -> q::DOUBLE * (ma / 127.0)) AS dv
       |  FROM m),
       |q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5),
       |scored AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |         ${sqlCosine("q.qvec", "c.dv")} AS cos_sim
       |  FROM dq c, q WHERE q.query_id <> c.vec_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id, cos_sim FROM ranked
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin


  val q95_pq_topk: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val dim = graft.io.Stats.embeddingDim(s, d)
    val cb = Pq.codebooks(emb, PqM, PqKsub, dim)
    val dec = Pq.decode(Pq.encode(emb, cb, PqM, dim), cb, PqM, dim)
      .select(col("vec_id"), col("approx").as("embedding"))
    Similarity.bruteForceTopK(emb.where(col("vec_id") < 5), dec, 10, dim = dim)
      .orderBy(col("query_id"), col("rank"))
  }

  val q95_sql: String =
    s"""WITH $pqDecCtes,
       |q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5),
       |scored AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |         ${sqlCosine("q.qvec", "c.dv")} AS cos_sim
       |  FROM dec c, q WHERE q.query_id <> c.vec_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id, cos_sim FROM ranked
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin


  /** IVF-PQ — the standard billion-vector serving architecture, end to
    * end: coarse cells route the search (assignment on ORIGINAL vectors,
    * as at index time), PQ codes pay for memory (scoring against the
    * reconstruction). Composes q56's fixed-centroid routing with q95's
    * fixed-codebook compression; every stage of the composition is
    * hash-checked. Same plan shape as [[Ivf.topK]]: one narrow-map assign,
    * one narrow-map encode/decode, broadcast probe routing, cell equi-join
    * for candidates — the corpus is never paired with itself. */
  val q99_topk_ivfpq: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val dim = graft.io.Stats.embeddingDim(s, d)
    val cents = Ivf.fit(emb, 8, 0, dim)
    val cb = Pq.codebooks(emb, PqM, PqKsub, dim)
    val dec = Pq.decode(Pq.encode(emb, cb, PqM, dim), cb, PqM, dim)
    val assigned = Ivf.assign(dec, cents, dim)
      .select(col("vec_id").as("neighbor_id"), col("approx").as("cvec"), col("cell"),
        Similarity.norm(col("approx"), dim).as("__cn"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("score").desc, col("cell"))
    val probes = emb.where(col("vec_id") < 5).crossJoin(broadcast(cents))
      .withColumn("score", Similarity.cosine(col("embedding"), col("centroid"), dim))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"), col("cell"),
        Similarity.norm(col("embedding"), dim).as("__qn"))
    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (Similarity.dot(col("qvec"), col("cvec"), dim) /
          (col("__qn") * col("__cn"))).as("cos_sim"))
    val w2 = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w2).cast("long"))
      .where(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  val q99_sql: String = {
    val cos = sqlCosine("e.embedding", "c.centroid")
    s"""WITH $pqDecCtes,
       |cents AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
       |         list_transform(embedding, x -> x::DOUBLE) AS centroid
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
       |asg0 AS (
       |  SELECT e.vec_id, e.embedding, c.cell, $cos AS s
       |  FROM embeddings e, cents c),
       |cellof AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
       |    FROM asg0)
       |  WHERE rn = 1),
       |assigned AS (
       |  SELECT a.vec_id AS neighbor_id, dc.dv AS cvec, a.cell
       |  FROM cellof a JOIN dec dc ON dc.vec_id = a.vec_id),
       |probes AS (
       |  SELECT vec_id AS query_id, embedding AS qvec, cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
       |    FROM asg0 WHERE vec_id < 5)
       |  WHERE rn <= 2),
       |scored AS (
       |  SELECT p.query_id, a.neighbor_id, ${sqlCosine("p.qvec", "a.cvec")} AS cos_sim
       |  FROM assigned a JOIN probes p USING (cell)
       |  WHERE p.query_id <> a.neighbor_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id, cos_sim FROM ranked
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }


  /** RESIDUAL IVF-PQ — the full FAISS-style composition: PQ codebooks are
    * trained on (vector − assigned-centroid) residuals, which are smaller
    * and more isotropic than raw vectors, so the same code budget buys
    * materially lower reconstruction error; reconstruction is
    * centroid + decoded residual. Everything stays exact arithmetic
    * (subtract/add, argmin folds), so unlike real float pipelines the
    * ENTIRE residual path — assign → residual → codebook → encode →
    * decode → re-add → search — is hash-checked. Plan shape matches q99
    * plus one broadcast 8-row centroid join for the residual computation. */
  val q105_topk_ivfpq_residual: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val dim = graft.io.Stats.embeddingDim(s, d)
    val cents = Ivf.fit(emb, 8, 0, dim)
    val resid = Ivf.assign(emb, cents, dim)
      .join(broadcast(cents), Seq("cell"))
      .withColumn("residual",
        expr("zip_with(cast(embedding as array<double>), centroid, (x, y) -> x - y)"))
    val cb = Pq.codebooks(resid, PqM, PqKsub, dim, vecCol = "residual")
    val recon = Pq.decode(Pq.encode(resid, cb, PqM, dim, vecCol = "residual"),
        cb, PqM, dim)
      .withColumn("recon", expr("zip_with(centroid, approx, (x, y) -> x + y)"))
    val corpus = recon.select(col("vec_id").as("neighbor_id"),
      col("recon").as("cvec"), col("cell"),
      Similarity.norm(col("recon"), dim).as("__cn"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("score").desc, col("cell"))
    val probes = emb.where(col("vec_id") < 5).crossJoin(broadcast(cents))
      .withColumn("score", Similarity.cosine(col("embedding"), col("centroid"), dim))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"), col("cell"),
        Similarity.norm(col("embedding"), dim).as("__qn"))
    val scored = corpus.join(broadcast(probes), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (Similarity.dot(col("qvec"), col("cvec"), dim) /
          (col("__qn") * col("__cn"))).as("cos_sim"))
    val w2 = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w2).cast("long"))
      .where(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  val q105_sql: String = {
    val cos = sqlCosine("e.embedding", "c.centroid")
    val dist = "list_reduce(list_transform(list_transform(range(1, b.sub+1), " +
      "i -> b.r[c.subspace*b.sub + i] - c.c[i]), t -> t*t), (x,y) -> x + y)"
    s"""WITH cents AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
       |         list_transform(embedding, x -> x::DOUBLE) AS centroid
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
       |asg0 AS (
       |  SELECT e.vec_id, e.embedding, c.cell, $cos AS s
       |  FROM embeddings e, cents c),
       |cellof AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
       |    FROM asg0)
       |  WHERE rn = 1),
       |resid AS (
       |  SELECT e.vec_id, ct.cell, ct.centroid, len(e.embedding)//$PqM AS sub,
       |         list_transform(range(1, len(e.embedding)+1),
       |                        i -> e.embedding[i]::DOUBLE - ct.centroid[i]) AS r
       |  FROM embeddings e
       |  JOIN cellof cf ON cf.vec_id = e.vec_id
       |  JOIN cents ct ON ct.cell = cf.cell),
       |cbbase AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, r, sub
       |  FROM resid ORDER BY vec_id LIMIT $PqKsub),
       |cbs AS (
       |  SELECT s.s AS subspace, cb.code,
       |         cb.r[(s.s*cb.sub+1):((s.s+1)*cb.sub)] AS c
       |  FROM cbbase cb, (SELECT unnest(range(0, $PqM)) AS s) s),
       |enc AS (
       |  SELECT b.vec_id, c.subspace, c.c,
       |         row_number() OVER (PARTITION BY b.vec_id, c.subspace
       |                            ORDER BY $dist ASC, c.code ASC) AS rn
       |  FROM resid b, cbs c),
       |dec AS (
       |  SELECT vec_id, flatten(list(c ORDER BY subspace)) AS dv
       |  FROM enc WHERE rn = 1 GROUP BY vec_id),
       |recon AS (
       |  SELECT d.vec_id, r.cell,
       |         list_transform(range(1, len(d.dv)+1),
       |                        i -> r.centroid[i] + d.dv[i]) AS rv
       |  FROM dec d JOIN resid r ON r.vec_id = d.vec_id),
       |probes AS (
       |  SELECT vec_id AS query_id, embedding AS qvec, cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
       |    FROM asg0 WHERE vec_id < 5)
       |  WHERE rn <= 2),
       |scored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id, ${sqlCosine("p.qvec", "a.rv")} AS cos_sim
       |  FROM recon a JOIN probes p USING (cell)
       |  WHERE p.query_id <> a.vec_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id, cos_sim FROM ranked
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }


  /** ANN quality self-audit: recall@10 of the pruned fixed-centroid IVF
    * search (q56's pipeline, nProbe=2) against the exact brute-force
    * top-10 (q26's) — the measurement every production ANN deployment
    * monitors to tune its nProbe/cell-count recall-vs-cost dial. Both
    * rankings are deterministic, so even the recall FRACTIONS are
    * hash-checked (IEEE division is correctly rounded — exact cross-engine
    * — unlike libm transcendentals). */
  val q106_ann_recall: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val dim = graft.io.Stats.embeddingDim(s, d)
    val qs = emb.where(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(qs, emb, 10, dim = dim)
      .select(col("query_id"), col("neighbor_id"))
    val approx = Ivf.topK(qs, emb, Ivf.fit(emb, 8, 0, dim), 10, 2, dim)
      .select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    exact.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall_at_10", col("n_hits").cast("double") / 10.0)
      .orderBy(col("query_id"))
  }

  val q106_sql: String =
    s"""WITH $ivfFixedCtes,
       |approx AS (SELECT query_id, neighbor_id FROM ivfranked WHERE rank <= 10),
       |bscored AS (
       |  SELECT p.query_id, c.vec_id AS neighbor_id,
       |         ${sqlCosine("p.qvec", "c.embedding")} AS cos_sim
       |  FROM embeddings c,
       |       (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5) p
       |  WHERE p.query_id <> c.vec_id),
       |branked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM bscored),
       |exact AS (SELECT query_id, neighbor_id FROM branked WHERE rank <= 10),
       |hits AS (
       |  SELECT e.query_id, count(*) AS n_hits
       |  FROM exact e JOIN approx a USING (query_id, neighbor_id)
       |  GROUP BY e.query_id)
       |SELECT q.query_id,
       |       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 10.0 AS recall_at_10
       |FROM (SELECT DISTINCT query_id FROM exact) q
       |LEFT JOIN hits h USING (query_id)
       |ORDER BY query_id""".stripMargin

  // ------------------------------------------------------------- sketches


  val q124_allpairs_cosine: Q = (s, d) =>
    AllPairs.cosinePairs(Tables.documents(s, d), "doc_id", "text",
        ApMaxDf, ApMinCos2Fp)
      .orderBy(col("doc_a"), col("doc_b"))

  val q124_sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS ts
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS term, count(*) AS tf
       |  FROM toks, unnest(range(1, len(ts) - 1)) AS t(i)
       |  WHERE len(ts) >= 3 GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |kept AS (
       |  SELECT tf.doc_id, tf.term, tf.tf FROM tf JOIN df USING (term)
       |  WHERE df.df BETWEEN 2 AND $ApMaxDf),
       |norms AS (SELECT doc_id, sum(tf*tf) AS n2 FROM kept GROUP BY doc_id),
       |dots AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.tf*b.tf) AS dot
       |  FROM kept a JOIN kept b ON a.term = b.term AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT doc_a, doc_b, CAST(dot AS BIGINT) AS dot,
       |         CAST((dot*dot*1000000) // (na.n2*nb.n2) AS BIGINT) AS cos2_fp
       |  FROM dots JOIN norms na ON na.doc_id = dots.doc_a
       |            JOIN norms nb ON nb.doc_id = dots.doc_b)
       |SELECT doc_a, doc_b, dot, cos2_fp FROM scored
       |WHERE cos2_fp >= $ApMinCos2Fp ORDER BY doc_a, doc_b""".stripMargin


  /** MMR diverse top-3 over an 8-candidate shortlist (λ = 1/2) — the
    * RAG-style diverse re-rank, certified by unrolling the three greedy
    * rounds as chained CTEs with the same cosine expression as q26 (see
    * [[graft.llm.Similarity.mmrTopK]]). */
  val q140_mmr_rerank: Q = (s, d) =>
    Similarity.mmrTopK(
        Tables.embeddings(s, d).where(col("vec_id") < 3),
        Tables.embeddings(s, d), candidates = 8, k = 3,
        dim = graft.io.Stats.embeddingDim(s, d))
      .orderBy(col("query_id"), col("rank"))

  val q140_sql: String = {
    val rounds = (2 to 3).map { i =>
      s"""p$i AS (SELECT c.query_id, c.neighbor_id, max(${sqlCosine("c.nvec", "s.nvec")}) AS pen
         |        FROM cand c JOIN sel${i - 1} s ON s.query_id = c.query_id
         |        GROUP BY c.query_id, c.neighbor_id),
         |r$i AS (SELECT query_id, neighbor_id, nvec, score FROM (
         |  SELECT c.query_id, c.neighbor_id, c.nvec,
         |         0.5 * c.simq - 0.5 * coalesce(p.pen, 0) AS score,
         |         row_number() OVER (PARTITION BY c.query_id
         |           ORDER BY 0.5 * c.simq - 0.5 * coalesce(p.pen, 0) DESC, c.neighbor_id) AS rn
         |  FROM cand c
         |  LEFT JOIN p$i p ON p.query_id = c.query_id AND p.neighbor_id = c.neighbor_id
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} s
         |                    WHERE s.query_id = c.query_id AND s.neighbor_id = c.neighbor_id)) t
         |  WHERE rn = 1),
         |sel$i AS (SELECT query_id, neighbor_id, nvec FROM sel${i - 1}
         |          UNION ALL SELECT query_id, neighbor_id, nvec FROM r$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 3),
       |scored0 AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id, c.embedding AS nvec,
       |         ${sqlCosine("q.qvec", "c.embedding")} AS simq
       |  FROM embeddings c, q WHERE q.query_id <> c.vec_id),
       |cand AS (SELECT query_id, neighbor_id, nvec, simq FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY simq DESC, neighbor_id) AS rn
       |  FROM scored0) t WHERE rn <= 8),
       |r1 AS (SELECT query_id, neighbor_id, nvec, 0.5 * simq AS score FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY 0.5 * simq DESC, neighbor_id) AS rn
       |  FROM cand) t WHERE rn = 1),
       |sel1 AS (SELECT query_id, neighbor_id, nvec FROM r1),
       |$rounds
       |SELECT query_id, 1::BIGINT AS rank, neighbor_id, score FROM r1
       |UNION ALL SELECT query_id, 2::BIGINT, neighbor_id, score FROM r2
       |UNION ALL SELECT query_id, 3::BIGINT, neighbor_id, score FROM r3
       |ORDER BY query_id, rank""".stripMargin
  }


  /** Per-dimension embedding normalization stats — [[Similarity.dimStats]]'
    * single 2·dim-integer-partial aggregate vs the oracle's parallel-unnest
    * GROUP BY per position: components quantize to fixed-point
    * `round(v·10¹²)` and accumulate as 128-bit integers on both sides
    * (order-independent; see dimStats scaladoc for why not DECIMAL(·,12)),
    * then the same IEEE divides/sqrt on both — bit-exact. */
  val q153_embedding_stats: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.dimStats(emb, "embedding", graft.io.Stats.embeddingDim(s, d))
      .orderBy(col("dim"))
  }

  val q153_sql: String =
    """WITH x AS (SELECT unnest(embedding) AS v,
      |                  unnest(range(1, len(embedding) + 1)) AS j
      |           FROM embeddings),
      |a AS (SELECT j - 1 AS dim,
      |        CAST(sum(CAST(round(v::DOUBLE * 1e12) AS HUGEINT)) AS DOUBLE) AS s,
      |        CAST(sum(CAST(round(v::DOUBLE * v::DOUBLE * 1e12) AS HUGEINT)) AS DOUBLE) AS q,
      |        count(*)::BIGINT AS n
      |      FROM x GROUP BY 1)
      |SELECT dim::BIGINT AS dim, n AS n_vecs, s / 1e12 / n AS mean,
      |       sqrt(q / 1e12 / n - (s / 1e12 / n) * (s / 1e12 / n)) AS std
      |FROM a ORDER BY dim""".stripMargin


  /** Z-normalized similarity search — [[Similarity.standardize]] applies
    * the [[Similarity.dimStats]] table (packed into ONE broadcast row —
    * the corpus never shuffles) and the brute-force ranking runs in the
    * standardized space; the oracle recomputes stats, z-vectors, and the
    * in-order cosine fold independently. Certifies the full
    * normalize→search composition bit-for-bit. */
  val q156_znorm_topk: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val stats = Similarity.dimStats(emb, "embedding", graft.io.Stats.embeddingDim(s, d))
      .localCheckpoint(true) // two consumers: query side + corpus side
    val z = Similarity.standardize(emb, stats, "embedding")
    Similarity.bruteForceTopK(z.where(col("vec_id") < 5), z, 10,
      dim = graft.io.Stats.embeddingDim(s, d))
      .orderBy(col("query_id"), col("rank"))
  }

  val q156_sql: String =
    s"""WITH x AS (SELECT unnest(embedding) AS v,
       |                  unnest(range(1, len(embedding) + 1)) AS j
       |           FROM embeddings),
       |a AS (SELECT j - 1 AS dim,
       |        CAST(sum(CAST(round(v::DOUBLE * 1e12) AS HUGEINT)) AS DOUBLE) AS s,
       |        CAST(sum(CAST(round(v::DOUBLE * v::DOUBLE * 1e12) AS HUGEINT)) AS DOUBLE) AS q,
       |        count(*)::BIGINT AS n
       |      FROM x GROUP BY 1),
       |m AS (SELECT list(s / 1e12 / n ORDER BY dim) AS means,
       |             list(sqrt(q / 1e12 / n - (s / 1e12 / n) * (s / 1e12 / n)) ORDER BY dim) AS stds
       |      FROM a),
       |z AS (SELECT vec_id,
       |        list_transform(range(1, len(embedding) + 1),
       |          j -> (embedding[j]::DOUBLE - means[j]) / stds[j]) AS zv
       |      FROM embeddings, m),
       |qs AS (SELECT vec_id AS query_id, zv AS qvec FROM z WHERE vec_id < 5),
       |scored AS (
       |  SELECT qs.query_id, c.vec_id AS neighbor_id,
       |         ${sqlCosine("qs.qvec", "c.zv")} AS cos_sim
       |  FROM z c, qs WHERE qs.query_id <> c.vec_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |           FROM scored)
       |SELECT query_id, rank, neighbor_id, cos_sim FROM ranked
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin


  /** Sign-matrix random projection (64→16) + top-10 search in the projected
    * space, each hit annotated against the exact full-width top-10 — the
    * JL-compressed ANN path with its recall audit in one certified frame.
    * The oracle rebuilds the SAME ±1 matrix from inlined literals (both
    * sides derive it from md5("rp:j:i") parity at build time), so the
    * projection itself — not just the ranking — is hash-checked. */
  val q165_random_project: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val proj = RandomProjection.project(emb, "embedding", "proj", RpOutDim, RpInDim)
    val approx = Similarity
      .bruteForceTopK(proj.where(col("vec_id") < 5), proj, 10, vecCol = "proj")
      .withColumnRenamed("cos_sim", "proj_sim")
    val exact = Similarity
      .bruteForceTopK(emb.where(col("vec_id") < 5), emb, 10,
        dim = graft.io.Stats.embeddingDim(s, d))
      .select(col("query_id"), col("neighbor_id"), lit(true).as("__hit"))
    approx.join(exact, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("proj_sim"),
        coalesce(col("__hit"), lit(false)).as("exact_hit"))
      .orderBy(col("query_id"), col("rank"))
  }

  val q165_sql: String = {
    val projExprs = (0 until RpOutDim)
      .map(j => sqlDot("embedding", rpLit(j))).mkString(",\n|    ")
    s"""WITH pr AS (SELECT vec_id, [$projExprs] AS proj FROM embeddings),
       |q AS (SELECT vec_id AS query_id, proj AS qvec FROM pr WHERE vec_id < 5),
       |scored AS (SELECT q.query_id, c.vec_id AS neighbor_id,
       |             ${sqlCosine("q.qvec", "c.proj")} AS proj_sim
       |           FROM pr c, q WHERE q.query_id <> c.vec_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |             ORDER BY proj_sim DESC, neighbor_id) AS rank FROM scored),
       |bscored AS (SELECT p.query_id, c.vec_id AS neighbor_id,
       |              ${sqlCosine("p.qvec", "c.embedding")} AS cos_sim
       |            FROM embeddings c,
       |              (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5) p
       |            WHERE p.query_id <> c.vec_id),
       |branked AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |              ORDER BY cos_sim DESC, neighbor_id) AS rank FROM bscored),
       |exact AS (SELECT query_id, neighbor_id FROM branked WHERE rank <= 10)
       |SELECT r.query_id, r.rank, r.neighbor_id, r.proj_sim,
       |       e.neighbor_id IS NOT NULL AS exact_hit
       |FROM ranked r LEFT JOIN exact e USING (query_id, neighbor_id)
       |WHERE r.rank <= 10 ORDER BY query_id, rank""".stripMargin
  }


  /** Pairwise cosine between per-label embedding centroids —
    * [[Similarity.centroidSimilarity]]'s decimal(38,0) fixed-point sums
    * (1/n factors cancel, so the centroid never exists as floats) vs the
    * oracle's HUGEINT replay; the single double divide+sqrt at the end is
    * IEEE-identical. 10 labels → 45 rows. */
  val q166_source_similarity: Q = (s, d) =>
    Similarity.centroidSimilarity(Tables.embeddings(s, d), "label")
      .select(col("group_a").cast("long").as("group_a"),
        col("group_b").cast("long").as("group_b"), col("cos_centroid"))
      .orderBy(col("group_a"), col("group_b"))

  val q166_sql: String =
    """WITH x AS (SELECT label, unnest(embedding) AS v,
      |                  unnest(range(1, len(embedding) + 1)) AS j
      |           FROM embeddings),
      |s AS (SELECT label, j AS dim,
      |        sum(CAST(round(v::DOUBLE * 1e6) AS HUGEINT)) AS s
      |      FROM x GROUP BY 1, 2),
      |p AS (SELECT a.label AS ga, b.label AS gb,
      |        sum(a.s * b.s) AS dab, sum(a.s * a.s) AS daa, sum(b.s * b.s) AS dbb
      |      FROM s a JOIN s b ON a.dim = b.dim AND a.label < b.label
      |      GROUP BY 1, 2)
      |SELECT CAST(ga AS BIGINT) AS group_a, CAST(gb AS BIGINT) AS group_b,
      |       CAST(dab AS DOUBLE) / (sqrt(CAST(daa AS DOUBLE)) * sqrt(CAST(dbb AS DOUBLE))) AS cos_centroid
      |FROM p ORDER BY 1, 2""".stripMargin


  /** Mutual-kNN neighborhood graph within coarse cells —
    * [[Similarity.mutualKnnGraph]]: directed top-5 per vector inside its
    * `label` cell (the IVF-cell contract of q27), then the mutuality
    * equi-join on the reversed edge key strips one-sided hub edges.
    * Candidate generation is O(Σ cell²); the corpus never cross-joins. */
  val q183_knn_mutual: Q = (s, d) =>
    Similarity.mutualKnnGraph(Tables.embeddings(s, d), 5, "label",
        dim = graft.io.Stats.embeddingDim(s, d))
      .orderBy(col("id_a"), col("id_b"))

  val q183_sql: String =
    s"""WITH scored AS (
       |  SELECT s.vec_id AS src, t.vec_id AS dst,
       |         ${sqlCosine("s.embedding", "t.embedding")} AS cos_sim
       |  FROM embeddings s JOIN embeddings t
       |    ON s.label = t.label AND s.vec_id <> t.vec_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY src
       |             ORDER BY cos_sim DESC, dst) AS rank FROM scored),
       |d AS (SELECT * FROM ranked WHERE rank <= 5)
       |SELECT f.src AS id_a, f.dst AS id_b, f.cos_sim,
       |       f.rank AS rank_ab, r.rank AS rank_ba
       |FROM d f JOIN d r ON f.src = r.dst AND f.dst = r.src
       |WHERE f.src < f.dst ORDER BY id_a, id_b""".stripMargin


  /** kNN-density outlier profile — [[Similarity.knnDensity]]: per-vector
    * mean cosine to its 5 cell-local nearest (integer-quantized, order-
    * independent) plus mutual-edge degree; the low-density rows are the
    * embedding-space outliers semantic dedup should not trust. */
  val q187_knn_density: Q = (s, d) =>
    Similarity.knnDensity(Tables.embeddings(s, d), 5, "label",
        dim = graft.io.Stats.embeddingDim(s, d))
      .orderBy(col("vec_id"))

  val q187_sql: String =
    s"""WITH scored AS (
       |  SELECT s.vec_id AS src, t.vec_id AS dst,
       |         ${sqlCosine("s.embedding", "t.embedding")} AS cos_sim
       |  FROM embeddings s JOIN embeddings t
       |    ON s.label = t.label AND s.vec_id <> t.vec_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY src
       |             ORDER BY cos_sim DESC, dst) AS rank FROM scored),
       |d AS (SELECT src, dst, CAST(round(cos_sim * 1000000) AS BIGINT) AS q
       |      FROM ranked WHERE rank <= 5),
       |pn AS (SELECT d.src AS vec_id, count(*)::BIGINT AS n_neighbors,
       |         (sum(d.q) // count(*))::BIGINT AS mean_cos_fp,
       |         sum(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS mutual_degree
       |       FROM d LEFT JOIN d r ON r.src = d.dst AND r.dst = d.src
       |       GROUP BY 1)
       |SELECT e.vec_id, coalesce(pn.n_neighbors, 0)::BIGINT AS n_neighbors,
       |       coalesce(pn.mean_cos_fp, 0)::BIGINT AS mean_cos_fp,
       |       coalesce(pn.mutual_degree, 0)::BIGINT AS mutual_degree
       |FROM embeddings e LEFT JOIN pn USING (vec_id)
       |ORDER BY vec_id""".stripMargin


  /** IVF CELL-QUALITY audit — the index-health check a production ANN
    * service runs before trusting a partitioning: per cell, population
    * and the integer-quantized mean/min cosine to the assigned centroid
    * (q187's ×10⁶ rounding idiom, so the report hash-matches). A
    * starving or low-cohesion cell means re-fit. Plan: the codegen
    * NearestCell assignment (zero shuffle over the corpus), ONE broadcast
    * centroid re-attach for the score, one map-side-combined aggregate —
    * ≤ k output rows regardless of corpus size. */
  val q262_ivf_cell_quality: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val dim = graft.io.Stats.embeddingDim(s, d)
    val centroids = Ivf.fit(emb, 8, 0, dim)
    Ivf.assign(emb, centroids, dim)
      .join(broadcast(centroids), Seq("cell"))
      .withColumn("q", round(Similarity.cosine(col("embedding"),
        col("centroid"), dim) * 1000000).cast("long"))
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_vectors"),
        expr("sum(q) div count(1)").as("mean_cos_fp"),
        min(col("q")).as("min_cos_fp"))
      .orderBy(col("cell"))
  }

  val q262_sql: String =
    s"""WITH cents AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
       |         list_transform(embedding, x -> x::DOUBLE) AS centroid
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
       |asg0 AS (
       |  SELECT e.vec_id, c.cell, ${sqlCosine("e.embedding", "c.centroid")} AS s
       |  FROM embeddings e, cents c),
       |assigned AS (
       |  SELECT vec_id, cell, s FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |             ORDER BY s DESC, cell) AS rn
       |    FROM asg0)
       |  WHERE rn = 1),
       |qq AS (SELECT cell, CAST(round(s * 1000000) AS BIGINT) AS q
       |       FROM assigned)
       |SELECT cell::BIGINT AS cell, count(*)::BIGINT AS n_vectors,
       |       (sum(q) // count(*))::BIGINT AS mean_cos_fp,
       |       min(q)::BIGINT AS min_cos_fp
       |FROM qq GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------- matryoshka truncation audit

  /** Matryoshka-style truncation audit (Kusupati et al. 2022): how much
    * retrieval quality survives when the 64-d embeddings are truncated
    * to their first 8/16/32 components — the dimension-vs-cost dial a
    * production vector store tunes when it stores nested prefixes
    * instead of separate indexes. For each probe query, the truncated
    * brute-force top-10 (cosine over `slice(embedding, 1, d)`) is
    * compared to the full-dimension exact top-10; overlap@10 per
    * (query, dim) is the readout. Shapes: the corpus side never
    * shuffles (one scan per prefix width with the 5 probe vectors
    * broadcast — q26's shape ×3); the overlap join runs on ≤50-row
    * frames. Rankings are deterministic (cos desc, neighbor_id
    * tie-break) and IEEE division is correctly rounded, so even the
    * recall fractions hash cross-engine (the q106 precedent). */
  val q388_matryoshka: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val full = graft.io.Stats.embeddingDim(s, d)
    val probes = emb.where(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(probes, emb, 10, dim = full)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(true) // ≤50 rows; consumers: one per prefix + universe
    val dims = Seq(8, 16, 32)
    val hits = dims.map { td =>
      def cut(df: DataFrame) = df.select(col("vec_id"),
        slice(col("embedding"), 1, td).as("embedding"))
      val approx = Similarity.bruteForceTopK(cut(probes), cut(emb), 10,
        dim = td).select(col("query_id"), col("neighbor_id"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
        .withColumn("trunc_dim", lit(td.toLong))
    }.reduce(_ unionByName _)
    exact.select(col("query_id")).distinct()
      .crossJoin(broadcast(dims.map(_.toLong).toDF("trunc_dim")))
      .join(hits, Seq("query_id", "trunc_dim"), "left")
      .select(col("query_id"), col("trunc_dim"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall_at_10", col("n_hits").cast("double") / 10.0)
      .orderBy(col("query_id"), col("trunc_dim"))
  }

  val q388_sql: String = {
    def trunc(td: Int): String =
      s"""t$td AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT p.query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY p.query_id ORDER BY
         |        ${sqlCosine(s"p.qvec[1:$td]", s"c.embedding[1:$td]")} DESC,
         |        c.vec_id) AS rank
         |    FROM embeddings c,
         |         (SELECT vec_id AS query_id, embedding AS qvec
         |          FROM embeddings WHERE vec_id < 5) p
         |    WHERE p.query_id <> c.vec_id)
         |  WHERE rank <= 10),
         |h$td AS (SELECT e.query_id, $td::BIGINT AS trunc_dim,
         |           count(*)::BIGINT AS n_hits
         |         FROM exact e JOIN t$td USING (query_id, neighbor_id)
         |         GROUP BY 1)""".stripMargin
    s"""WITH exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT p.query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY p.query_id ORDER BY
       |        ${sqlCosine("p.qvec", "c.embedding")} DESC, c.vec_id) AS rank
       |    FROM embeddings c,
       |         (SELECT vec_id AS query_id, embedding AS qvec
       |          FROM embeddings WHERE vec_id < 5) p
       |    WHERE p.query_id <> c.vec_id)
       |  WHERE rank <= 10),
       |${trunc(8)},
       |${trunc(16)},
       |${trunc(32)},
       |hits AS (SELECT * FROM h8 UNION ALL SELECT * FROM h16
       |         UNION ALL SELECT * FROM h32),
       |uni AS (SELECT query_id, td.trunc_dim
       |        FROM (SELECT DISTINCT query_id FROM exact)
       |        CROSS JOIN (SELECT unnest([8, 16, 32])::BIGINT AS trunc_dim)
       |          td)
       |SELECT uni.query_id, uni.trunc_dim,
       |  coalesce(n_hits, 0)::BIGINT AS n_hits,
       |  coalesce(n_hits, 0)::DOUBLE / 10.0 AS recall_at_10
       |FROM uni LEFT JOIN hits ON hits.query_id = uni.query_id
       |  AND hits.trunc_dim = uni.trunc_dim
       |ORDER BY uni.query_id, uni.trunc_dim""".stripMargin
  }

  /** The IVF recall-vs-nProbe CURVE — q106's single-point audit swept
    * across nProbe ∈ {1, 2, 4, 8}: the measurement that actually sets the
    * dial a production vector store tunes (how many cells must be probed
    * before recall@10 plateaus). nProbe = 8 probes every cell of the k = 8
    * fixed quantizer, so its row is brute-force-equal by construction —
    * recall 1.0 — an in-band sanity anchor the spec also asserts. Shapes:
    * the probe side is ≤ 5 queries (bounded broadcast, q26's license);
    * the corpus is assigned and scored in ONE pass shared by all four
    * levels — each probe cell carries its probe RANK cr, so level np's
    * candidate set is just cr ≤ np, and the per-(query, np) top-10 runs
    * as rank windows over the one scored frame ([[Ivf.topK]]'s cosine
    * expression and tie rules, without its per-level re-assignment).
    * Rankings are deterministic and
    * IEEE division is correctly rounded, so the recall fractions
    * hash-check cross-engine (the q106/q388 precedent). */
  val q402_ivf_probe_curve: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val dim = graft.io.Stats.embeddingDim(s, d)
    val cents = Ivf.fit(emb, 8, 0, dim).localCheckpoint(true)
    val qs = emb.where(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(qs, emb, 10, dim = dim)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(true) // ≤50 rows; consumers: hit semi-join + universe
    val nprobes = Seq(1L, 2L, 4L, 8L)
    // probe routing ONCE with the cell's probe rank kept (cr): a candidate
    // scored in a cell at rank cr participates in every level np >= cr, so
    // the corpus is assigned and scored in ONE pass shared by all four
    // sweep levels (the review fix: the first draft called Ivf.topK per
    // level, re-running the corpus assignment 4x). Same cosine expression
    // and tie rules as Ivf.topK — per-row staged norms, dot/(qn*cn).
    val wp = Window.partitionBy(col("vec_id"))
      .orderBy(col("score").desc, col("cell"))
    val probes = qs.crossJoin(broadcast(cents))
      .withColumn("score", Similarity.cosine(col("embedding"), col("centroid"), dim))
      .withColumn("cr", row_number().over(wp).cast("long"))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("cell"), col("cr"),
        Similarity.norm(col("embedding"), dim).as("__qn"))
    val assigned = Ivf.assign(emb, cents, dim)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("cvec"),
        col("cell"), Similarity.norm(col("embedding"), dim).as("__cn"))
    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("cr"), col("neighbor_id"),
        (Similarity.dot(col("qvec"), col("cvec"), dim) /
          (col("__qn") * col("__cn"))).as("cos_sim"))
    val wr = Window.partitionBy(col("query_id"), col("nprobe"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    val hits = scored
      .crossJoin(broadcast(nprobes.toDF("nprobe")))
      .where(col("cr") <= col("nprobe"))
      .withColumn("rank", row_number().over(wr))
      .where(col("rank") <= 10)
      .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id"), col("nprobe"))
      .agg(count(lit(1)).as("n_hits"))
    exact.select(col("query_id")).distinct()
      .crossJoin(broadcast(nprobes.toDF("nprobe")))
      .join(hits, Seq("query_id", "nprobe"), "left")
      .select(col("query_id"), col("nprobe"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall_at_10", col("n_hits").cast("double") / 10.0)
      .orderBy(col("query_id"), col("nprobe"))
  }

  val q402_sql: String =
    s"""WITH cents AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
       |         list_transform(embedding, x -> x::DOUBLE) AS centroid
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
       |asg0 AS (
       |  SELECT e.vec_id, e.embedding, c.cell,
       |         ${sqlCosine("e.embedding", "c.centroid")} AS s
       |  FROM embeddings e, cents c),
       |assigned AS (
       |  SELECT vec_id AS neighbor_id, embedding AS cvec, cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
       |    FROM asg0)
       |  WHERE rn = 1),
       |pr AS (
       |  SELECT vec_id AS query_id, embedding AS qvec, cell,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS cr
       |  FROM asg0 WHERE vec_id < 5),
       |np AS (SELECT unnest([1, 2, 4, 8])::BIGINT AS nprobe),
       |scored AS (
       |  SELECT p.query_id, n.nprobe, a.neighbor_id,
       |         ${sqlCosine("p.qvec", "a.cvec")} AS cos_sim
       |  FROM pr p JOIN np n ON p.cr <= n.nprobe
       |  JOIN assigned a USING (cell)
       |  WHERE p.query_id <> a.neighbor_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id, nprobe
       |           ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM scored),
       |approx AS (SELECT query_id, nprobe, neighbor_id FROM ranked WHERE rank <= 10),
       |bscored AS (
       |  SELECT p.query_id, c.vec_id AS neighbor_id,
       |         ${sqlCosine("p.qvec", "c.embedding")} AS cos_sim
       |  FROM embeddings c,
       |       (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5) p
       |  WHERE p.query_id <> c.vec_id),
       |branked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM bscored),
       |exact AS (SELECT query_id, neighbor_id FROM branked WHERE rank <= 10),
       |hits AS (
       |  SELECT a.query_id, a.nprobe, count(*) AS n_hits
       |  FROM exact e JOIN approx a USING (query_id, neighbor_id)
       |  GROUP BY 1, 2)
       |SELECT q.query_id, n.nprobe,
       |       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 10.0 AS recall_at_10
       |FROM (SELECT DISTINCT query_id FROM exact) q
       |CROSS JOIN np n
       |LEFT JOIN hits h ON h.query_id = q.query_id AND h.nprobe = n.nprobe
       |ORDER BY 1, 2""".stripMargin
}
