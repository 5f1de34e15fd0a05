package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Degree-ordered triangle counting (the compact-forward / node-iterator
  * algorithm of Schank & Wagner 2005, "Finding, Counting and Listing all
  * Triangles in Large Graphs"): orient every undirected edge from its
  * lower-(degree, id) endpoint to the higher, generate wedges as ordered
  * pairs of out-neighbors, and close them against the oriented edge set.
  *
  * Why the degree orientation matters at 100 TB: with edges oriented
  * low→high degree, every vertex's out-degree is O(√m) on any graph, so
  * wedge generation is O(m^1.5) worst-case instead of Σ deg² — a single
  * celebrity hub with 10⁸ neighbors contributes ZERO wedges from its own
  * adjacency (all its edges point INTO it). The (degree, id) order is
  * total and transitive, so a wedge's closing edge — if present — is
  * oriented exactly (lower dst → higher dst): closure is ONE equi-join,
  * no per-triangle canonicalization.
  *
  * Plan shape: one distinct (edge canonicalization), one degree agg, two
  * joins to attach degrees, a self-equi-join on the wedge pivot, and a
  * semi join to close — every join keyed, nothing all-pairs. The oriented
  * edge table feeds three consumers, so it is localCheckpoint'ed (the
  * q121 fan-out lesson).
  *
  * Returns ONE row (n_nodes, n_edges, n_wedges, n_triangles). n_wedges
  * counts ORIENTED wedges (ordered out-neighbor pairs at each edge's
  * low end) — the closure-candidate count, which bounds the join work
  * and counts every triangle exactly once; it is deliberately NOT the
  * all-open-wedges clustering-coefficient denominator (that is
  * Σ C(deg,2), a one-line extra aggregate if a caller needs it). */
object Triangles {

  def stats(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val (e, deg, orient) = oriented(edges, aCol, bCol)
    val wedges = wedgesOf(orient).select(col("wsrc"), col("wdst"))
      .localCheckpoint(true) // consumers: wedge count + closure
    val tri = wedges.join(closer(orient), Seq("wsrc", "wdst"), "left_semi")
    deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(broadcast(e.agg(count(lit(1)).as("n_edges"))))
      .crossJoin(broadcast(wedges.agg(count(lit(1)).as("n_wedges"))))
      .crossJoin(broadcast(tri.agg(count(lit(1)).as("n_triangles"))))
  }

  /** Per-node triangle counts + degree — the local-clustering-coefficient
    * inputs. Same degree-oriented wedge generation as [[stats]] (out-degree
    * O(√m), so no hub blow-up), but the closure join is INNER and keeps
    * the wedge pivot, so each closed triangle emits its three endpoints
    * (a row-local explode) into one map-side-combined count. Returns
    * (node, deg, n_tri) for every node, n_tri = 0 when none. */
  def perNode(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val (_, deg, orient) = oriented(edges, aCol, bCol)
    val triNodes = wedgesOf(orient).join(closer(orient), Seq("wsrc", "wdst"))
      .select(explode(array(col("piv"), col("wsrc"), col("wdst"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    deg.join(triNodes, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** The orientation stage both counts share: the canonical edges
    * (u, v), the degree table (node, deg) and the oriented edges
    * (src, dst, ddst = dst's degree), each checkpointed. */
  private def oriented(edges: DataFrame, aCol: String,
                       bCol: String): (DataFrame, DataFrame, DataFrame) = {
    val e = Edges.canonical(edges, aCol, bCol)
      .localCheckpoint(true) // consumers: degree agg + orientation (+ stats' edge count)
    val deg = e.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true) // consumers: two degree attaches + node count / final join
    val withDeg = e
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
    val lowerIsU = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val orient = withDeg.select(
        when(lowerIsU, col("u")).otherwise(col("v")).as("src"),
        when(lowerIsU, col("v")).otherwise(col("u")).as("dst"),
        when(lowerIsU, col("dv")).otherwise(col("du")).as("ddst"))
      .localCheckpoint(true) // consumers: wedge self-join (×2) + closure
    (e, deg, orient)
  }

  /** Every oriented wedge as (piv, wsrc, wdst): ordered out-neighbor pairs
    * of the pivot, in (degree, id) order. */
  private def wedgesOf(orient: DataFrame): DataFrame =
    orient.as("e1").join(orient.as("e2"),
        col("e1.src") === col("e2.src") &&
          (col("e1.ddst") < col("e2.ddst") ||
            (col("e1.ddst") === col("e2.ddst") && col("e1.dst") < col("e2.dst"))))
      .select(col("e1.src").as("piv"), col("e1.dst").as("wsrc"),
        col("e2.dst").as("wdst"))

  /** The closing edges as (wsrc, wdst). The wedge set is O(m^1.5) — orders
    * of magnitude larger than the edge set (41M wedges vs 1.2M edges on
    * the sf0.1 co-purchase graph). Shuffling it on (wsrc, wdst) for the
    * closure join was q230's dominant cost; when the EDGE side fits a
    * broadcast (count gate on the already-materialized checkpoint — one
    * cheap job), closure becomes a broadcast hash join and the wedge
    * stream never exchanges. Past the gate (billions of edges at 100 TB)
    * the shuffle join returns automatically. */
  private def closer(orient: DataFrame): DataFrame = {
    val closeSide = orient.select(col("src").as("wsrc"), col("dst").as("wdst"))
    if (orient.count() <= 4000000L) broadcast(closeSide) else closeSide
  }
}
