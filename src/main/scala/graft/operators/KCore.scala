package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling (Batagelj & Zaveršnik 2003's
  * sequential peel, restated as the standard bulk-synchronous variant):
  * repeatedly delete every node whose degree in the SURVIVING subgraph is
  * below k, until a fixpoint. What remains is exactly the k-core — the
  * maximal subgraph with minimum degree ≥ k.
  *
  * On a near-dup candidate graph the 2-core is the denoising cut: genuine
  * duplicate clusters are (near-)cliques and survive, while isolated
  * hash-collision edges and pendant chains peel away — a cheaper, exacter
  * prefilter than triangle counting for "is this cluster real?".
  *
  * Scale shape per round: one degree aggregate (map-side combined explode
  * of the edge list) + two anti joins — all hash-partitioned on node id,
  * nothing all-pairs, no window. Rounds are bounded by `maxRounds`;
  * each round's surviving edge set is materialised by the [[Rounds]] loop
  * (lineage would otherwise double per round), and convergence is
  * observed IN-BAND on that materializing action (an `observe` metric,
  * no extra job). A converged graph exits early; extra
  * budgeted rounds are semantic no-ops, so a fixed-round oracle replay
  * agrees with any early exit.
  */
object KCore {

  /** Peel to the k-core (or until `maxRounds`). Returns the surviving
    * nodes with their within-core degrees: (node, core_deg), unordered.
    * Input pairs are canonicalized (undirected, self-loops dropped). */
  def peel(pairs: DataFrame, aCol: String, bCol: String, k: Int,
           maxRounds: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(maxRounds >= 1, s"maxRounds must be >= 1 (got $maxRounds)")
    val obs0 = Observation("kcore_init")
    val init = Edges.canonical(pairs, aCol, bCol)
      .observe(obs0, count(lit(1)).as("n_edges"))
      .localCheckpoint(true)
    val unchanged = Rounds.unchanged(obs0.get("n_edges").asInstanceOf[Long])
    val edges = Rounds.run(init, maxRounds) { (edges, round) =>
      val deg = edges.select(explode(array(col("u"), col("v"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val bad = deg.where(col("deg") < k).select(col("node"))
      val obs = Observation(s"kcore_peel_$round")
      Some(Rounds.Step(edges
        .join(bad.select(col("node").as("u")), Seq("u"), "left_anti")
        .join(bad.select(col("node").as("v")), Seq("v"), "left_anti")
        .select(col("u"), col("v"))
        .observe(obs, count(lit(1)).as("n_edges")),
        () => unchanged(obs.get("n_edges").asInstanceOf[Long])))
    }
    // the returned frame reads the last edge checkpoint lazily, so it stays
    edges.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("core_deg"))
  }
}
