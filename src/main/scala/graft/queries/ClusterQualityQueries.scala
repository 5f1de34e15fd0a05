package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{Bounded, Stats, Tables}
import graft.llm.Similarity
import graft.queries.LlmQueries.{sqlCosine, sqlDot}

/** Clustering-quality audits over the embedding corpus — the readouts an
  * ANN-index owner runs before trusting a coarse quantizer: the
  * simplified silhouette (Kaufman & Rousseeuw 1990's silhouette with the
  * textbook per-point/all-points distances replaced by point-to-centroid
  * distances — the only form that runs at corpus scale, and the standard
  * large-n variant) and the Davies–Bouldin index (Davies & Bouldin 1979).
  * Both audit the SAME fixed coarse quantizer the ANN family's oracles
  * use (the first k = 8 embeddings by vec_id — q27's ivfFixedCtes
  * convention, deterministic on both engines).
  *
  * Scale notes (100 TB): the centroid set is k-bounded (k ≤ a few
  * thousand — the qcut-cut-points broadcast license), collected through
  * [[Bounded.collect]] and inlined as LITERAL arrays, so the per-point
  * score pass is a NARROW MAP over the corpus — k native [[Similarity]]
  * dot folds per row, zero row multiplication, zero shuffle before the
  * k-cell aggregate (locked by Round13OpsSpec). Per-point silhouettes
  * quantize to ppm longs BEFORE aggregation, so every cross-engine sum
  * is exact-integral; the only doubles are the per-row cosine folds,
  * which both engines evaluate with the identical in-order operation
  * sequence (the q26 convention). The k×k centroid-separation frame and
  * every readout after the reduction are constant-size in corpus rows.
  */
object ClusterQualityQueries extends Registry {

  private val dec = "decimal(38,0)"
  private val K = 8

  /** The fixed coarse centroids: the K smallest-vec_id embeddings, as
    * driver-side double arrays with the SAME in-order norm fold DuckDB's
    * `sqrt(list_reduce(...))` computes. Bounded collect (K rows); order
    * re-established driver-side (limit may reorder). */
  private[queries] def centroidLits(s: SparkSession, d: String): Seq[(Int, Seq[Double], Double)] = {
    val rows = Bounded.collect(
      Tables.embeddings(s, d).orderBy(col("vec_id")).limit(K)
        .select(col("vec_id"), col("embedding")),
      K, s"k = $K fixed coarse centroids")
    rows.sortBy(_.getLong(0)).zipWithIndex.map { case (r, cell) =>
      val c = r.getSeq[Float](1).map(_.toDouble)
      // left fold from 0.0 — bit-identical to DuckDB's list_reduce seed
      // (0.0 + x == x) and to the engine's DotProduct fold
      val norm = math.sqrt(c.foldLeft(0.0)((acc, x) => acc + x * x))
      (cell, c.toSeq, norm)
    }.toSeq
  }

  /** Per-point assignment + silhouette terms as a narrow map: K cosine
    * folds against literal centroids, the sorted score array's top two
    * elements, and the ppm-floored silhouette. Columns: vec_id, cell,
    * a_sim, b_sim, sil_ppm (NULL when the point sits ON both nearest
    * centroids — b = 0 fails closed). */
  private def pointScores(s: SparkSession, d: String): DataFrame = {
    val cents = centroidLits(s, d)
    val dim = Stats.embeddingDim(s, d)
    val emb = Tables.widen(Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding"))
      .withColumn("__n", Similarity.norm(col("embedding"), dim))
    val scores: Seq[Column] = cents.map { case (_, c, cn) =>
      Similarity.dot(col("embedding"), typedlit(c), dim) / (col("__n") * lit(cn))
    }
    emb
      .withColumn("__scores", array(scores: _*))
      .withColumn("__sorted", array_sort(col("__scores")))
      .withColumn("a_sim", element_at(col("__sorted"), K))
      .withColumn("b_sim", element_at(col("__sorted"), K - 1))
      // first position of the max in cell order = ties to the LOWER cell,
      // the NearestCell/ivfFixedCtes convention
      .withColumn("cell", (array_position(col("__scores"), col("a_sim")) - 1)
        .cast("long"))
      .withColumn("a_dist", lit(1.0) - col("a_sim"))
      .withColumn("b_dist", lit(1.0) - col("b_sim"))
      .withColumn("sil_ppm", when(col("b_dist") > 0.0,
        floor((col("b_dist") - col("a_dist")) / col("b_dist") * 1000000)))
      .select(col("vec_id"), col("cell"), col("a_dist"), col("sil_ppm"))
  }

  /** The shared oracle CTE chain up to the per-point frame: fixed
    * centroids (with the engine's exact norm fold), K scores per point
    * via a bounded cross join, top-two by (s DESC, cell ASC). */
  private val pointCtes: String = {
    val cos = s"(${sqlDot("e.embedding", "c.centroid")}" +
      s" / (sqrt(${sqlDot("e.embedding", "e.embedding")}) * c.cnorm))"
    s"""cents AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
       |         list_transform(embedding, x -> x::DOUBLE) AS centroid
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id
       |        LIMIT $K)),
       |cn AS (SELECT cell, centroid,
       |         sqrt(${sqlDot("centroid", "centroid")}) AS cnorm FROM cents),
       |sc AS (SELECT e.vec_id, c.cell, $cos AS s
       |       FROM embeddings e, cn c),
       |r AS (SELECT vec_id, cell, s,
       |        row_number() OVER (PARTITION BY vec_id
       |          ORDER BY s DESC, cell) AS rn
       |      FROM sc),
       |pt AS (SELECT a.vec_id, a.cell, (1.0 - a.s) AS a_dist,
       |         (1.0 - b.s) AS b_dist
       |       FROM r a JOIN r b ON b.vec_id = a.vec_id
       |       WHERE a.rn = 1 AND b.rn = 2)""".stripMargin
  }

  // ---- q396: simplified silhouette per cell --------------------------------

  /** Per-cell simplified silhouette over the fixed coarse quantizer:
    * s(x) = (b − a) / b with a = cosine distance to the OWN (nearest)
    * centroid and b = distance to the nearest OTHER centroid (b ≥ a by
    * construction, so the textbook max(a, b) denominator IS b). A point
    * equidistant-at-zero from two centroids (b = 0) fails closed to a
    * NULL silhouette and is excluded from the mean by its own count
    * column — never a fabricated 0. Readout per cell: member count,
    * mean/min/max silhouette in ppm. A cell averaging near 0 is a
    * quantizer smell (points as close to a neighbor cell as their own);
    * near 10⁶ means tight, well-separated cells — the go/no-go number
    * for trusting cell-restricted ANN search (q27/q106's recall depends
    * on exactly this geometry). */
  val q396_silhouette: Q = (s, d) =>
    pointScores(s, d)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        count(col("sil_ppm")).as("n_scored"),
        sum(col("sil_ppm")).cast(dec).as("ssil"),
        min(col("sil_ppm")).as("min_sil_ppm"),
        max(col("sil_ppm")).as("max_sil_ppm"))
      .select(col("cell"), col("n_members"), col("n_scored"),
        expr("cast(ssil div nullif(n_scored, 0) as bigint)")
          .as("mean_sil_ppm"),
        col("min_sil_ppm"), col("max_sil_ppm"))
      .orderBy(col("cell"))
  val q396_sql: String =
    s"""WITH $pointCtes,
       |sil AS (SELECT cell,
       |          CASE WHEN b_dist > 0 THEN
       |            floor((b_dist - a_dist) / b_dist * 1000000)::BIGINT
       |          END AS sil_ppm
       |        FROM pt)
       |SELECT cell, count(*)::BIGINT AS n_members,
       |  count(sil_ppm)::BIGINT AS n_scored,
       |  (sum(sil_ppm)::HUGEINT // nullif(count(sil_ppm), 0))::BIGINT
       |    AS mean_sil_ppm,
       |  min(sil_ppm)::BIGINT AS min_sil_ppm,
       |  max(sil_ppm)::BIGINT AS max_sil_ppm
       |FROM sil GROUP BY 1 ORDER BY cell""".stripMargin

  // ---- q397: Davies–Bouldin index -------------------------------------------

  /** Davies–Bouldin over the same quantizer: per cell the scatter
    * S_i = mean ppm-quantized distance to the own centroid (quantized
    * per POINT, so the cross-engine sum is exact-integral), the k×k
    * centroid separations M_ij = 1 − cos(c_i, c_j) (ppm), and
    * D_i = max_{j≠i} (S_i + S_j)·10⁶ div M_ij — the worst
    * scatter-to-separation ratio, whose k-average is the DB index
    * (LOWER is better; the ratio explodes exactly when two centroids
    * sit close relative to their scatters, the geometry that makes
    * cell-pruned search return wrong neighbors). Coincident centroids
    * (M = 0) fail closed: their ratio is NULL and drops from the max;
    * a cell whose EVERY separation is degenerate reports NULL D_i and
    * poisons the index to NULL rather than fabricating a finite score.
    * Every frame after the one corpus pass is k- or k²-bounded. */
  val q397_davies_bouldin: Q = (s, d) => {
    val cents = centroidLits(s, d)
    val cdf = s.createDataFrame(cents.map { case (c, v, _) => (c.toLong, v) })
      .toDF("cell", "centroid")
    val scatter = pointScores(s, d)
      .withColumn("a_ppm", floor(col("a_dist") * 1000000))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"), sum(col("a_ppm")).cast(dec).as("sa"))
      .select(col("cell"), col("n_members"),
        expr("cast(sa div n_members as bigint)").as("s_ppm"))
      .localCheckpoint(true) // k rows; consumers: both ratio sides + readout
    val dim = Stats.embeddingDim(s, d)
    val m = cdf.crossJoin(cdf.select(col("cell").as("cell_j"),
        col("centroid").as("centroid_j")))
      .where(col("cell") =!= col("cell_j"))
      .select(col("cell"), col("cell_j"),
        floor((lit(1.0) - Similarity.cosine(col("centroid"),
          col("centroid_j"), dim)) * 1000000).as("m_ppm"))
    val di = m
      .join(broadcast(scatter.select(col("cell"), col("s_ppm"))), Seq("cell"))
      .join(broadcast(scatter.select(col("cell").as("cell_j"),
        col("s_ppm").as("s_j_ppm"))), Seq("cell_j"))
      .withColumn("ratio_ppm", expr(s"""cast(
          cast(s_ppm + s_j_ppm as $dec) * 1000000 div nullif(m_ppm, 0)
        as bigint)"""))
      .groupBy(col("cell"))
      .agg(max(col("ratio_ppm")).as("d_i_ppm"))
    // LEFT join + member-cell-counted average: a cell whose EVERY
    // separation is degenerate (all M = 0, or no co-populated partner)
    // surfaces with a NULL D_i — and any NULL D_i poisons the index to
    // NULL (never a finite score over a subset). k_cells counts MEMBER
    // cells, guarded against the all-degenerate zero.
    val withDi = scatter.join(broadcast(di), Seq("cell"), "left")
      .localCheckpoint(true) // ≤ k rows; consumers: db fold + readout
    val db = withDi.agg(count(lit(1)).as("k_cells"),
      when(count(col("d_i_ppm")) === count(lit(1)),
        sum(col("d_i_ppm"))).as("sd"))
      .select(expr("""cast(cast(sd as decimal(38,0))
          div nullif(k_cells, 0) as bigint)""").as("db_index_ppm"))
    withDi.crossJoin(broadcast(db))
      .select(col("cell"), col("n_members"), col("s_ppm"), col("d_i_ppm"),
        col("db_index_ppm"))
      .orderBy(col("cell"))
  }
  val q397_sql: String = {
    val cosCC = s"(${sqlDot("a.centroid", "b.centroid")}" +
      s" / (sqrt(${sqlDot("a.centroid", "a.centroid")})" +
      s" * sqrt(${sqlDot("b.centroid", "b.centroid")})))"
    s"""WITH $pointCtes,
       |sct AS (SELECT cell, count(*)::BIGINT AS n_members,
       |          (sum(floor(a_dist * 1000000)::BIGINT)::HUGEINT
       |           // count(*))::BIGINT AS s_ppm
       |        FROM pt GROUP BY 1),
       |m AS (SELECT a.cell, b.cell AS cell_j,
       |        floor((1.0 - $cosCC) * 1000000)::BIGINT AS m_ppm
       |      FROM cents a JOIN cents b ON a.cell <> b.cell),
       |rat AS (SELECT m.cell,
       |          ((si.s_ppm + sj.s_ppm)::HUGEINT * 1000000
       |           // nullif(m_ppm, 0))::BIGINT AS ratio_ppm
       |        FROM m JOIN sct si ON si.cell = m.cell
       |        JOIN sct sj ON sj.cell = m.cell_j),
       |di AS (SELECT cell, max(ratio_ppm)::BIGINT AS d_i_ppm FROM rat
       |       GROUP BY 1),
       |wd AS (SELECT sct.cell, n_members, s_ppm, d_i_ppm
       |       FROM sct LEFT JOIN di ON di.cell = sct.cell),
       |db AS (SELECT (CASE WHEN count(d_i_ppm) = count(*)
       |               THEN sum(d_i_ppm)::HUGEINT // nullif(count(*), 0)
       |               END)::BIGINT AS db_index_ppm
       |       FROM wd)
       |SELECT cell, n_members, s_ppm, d_i_ppm, db_index_ppm
       |FROM wd CROSS JOIN db
       |ORDER BY cell""".stripMargin
  }
}
