package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the step that turns
  * near-duplicate CANDIDATE PAIRS ([[graft.llm.Dedup]]'s LSH/SimHash
  * output) into dedup DECISIONS: every document in a component gets the
  * component's minimum doc id as its cluster id; keep the minimum, drop the
  * rest.
  *
  * Two interchangeable algorithms behind the same output contract
  * ((id, cluster_id) for every node with at least one edge):
  *
  *  - [[components]] — iterative min-label propagation. One equi-join + one
  *    min-aggregate per round, O(component diameter) rounds. Near-dup
  *    graphs are dense bucket cliques (diameter 2-3), so this is the cheap
  *    default. THROWS if the diameter exceeds `maxIters` rather than
  *    silently returning partially-propagated labels.
  *  - [[componentsStar]] — alternating large-star/small-star contraction
  *    (Kiveris et al., "Connected Components in MapReduce and Beyond",
  *    SoCC'14): O(log n) rounds regardless of diameter, the 100 TB escape
  *    for adversarial long-chain graphs. Same join-per-round shuffle shape.
  *
  * Neither variant keeps driver-side graph state; the driver runs only the
  * bounded convergence loop (the same license as [[graft.llm.Ivf.fit]]'s
  * Lloyd rounds). Convergence is detected IN-BAND via `observe` metrics
  * collected during each round's materializing action — no separate
  * count-the-changes job per round.
  */
object ConnectedComponents {

  /** Min-label propagation to a fixpoint.
    *
    * @param pairs undirected edges, one per row
    * @param aCol / bCol edge endpoint columns (same type)
    * @param maxIters hard round cap; propagation converges in O(component
    *                 diameter) rounds, so this bounds the graph shapes the
    *                 call accepts — a graph with a longer chain FAILS FAST
    *                 (use [[componentsStar]] for unbounded-diameter graphs)
    * @return (id, cluster_id) for every node with at least one edge;
    *         cluster_id = min node id in the component
    */
  def components(pairs: DataFrame, aCol: String, bCol: String,
                 maxIters: Int = 20): DataFrame = {
    // both directions, deduped, materialized once: every round re-reads it
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    // |nodes|-gated per-round broadcast (one cheap job on the materialized
    // checkpoint): the label and nbr-min frames are node-bounded
    // 2-long-column tables, so broadcasting them leaves ONE shuffle per
    // round (the per-src min) instead of three — the edge table never
    // exchanges inside a round. Past the gate both joins revert to shuffle
    // joins automatically. Gate sized for node-bounded state paid EVERY
    // round, not the one-shot 4M Triangles budget; it is
    // [[PageRank.PerRoundBroadcastMaxNodes]], under which PageRank keeps
    // its whole rank vector on the driver.
    val n = labels.count()
    val bounded = (df: DataFrame) =>
      if (n <= PageRank.PerRoundBroadcastMaxNodes) broadcast(df) else df
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // each node pulls the smallest label among itself and its neighbors;
      // the changed-count rides the checkpoint action as an observe metric,
      // so convergence detection costs zero extra jobs
      val nbrMin = edges
        .join(bounded(labels.select(col("id").as("dst"), col("label"))), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("label")).as("nbr_label"))
      val obs = Observation(s"cc_prop_$i")
      val next = labels
        .join(bounded(nbrMin), Seq("id"), "left")
        .select(col("id"), col("label"),
          coalesce(col("nbr_label"), col("label")).as("nl"))
        .observe(obs,
          sum(when(col("nl") < col("label"), 1L).otherwise(0L)).as("changed"))
        .select(col("id"), least(col("label"), col("nl")).as("label"))
        .localCheckpoint(true)
      labels = next
      converged = longMetric(obs, "changed") == 0L
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"ConnectedComponents.components did not converge in $maxIters rounds: " +
          "a component's diameter exceeds maxIters, so returned labels would be " +
          "silently wrong. Raise maxIters or use componentsStar (O(log n) rounds).")
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** Alternating large-star/small-star contraction — O(log n) rounds on any
    * graph shape, including the deep-chain graphs that defeat propagation.
    *
    * Each round:
    *  - large-star: every node u attaches its strictly-larger neighbors to
    *    m = min(Γ(u) ∪ {u});
    *  - small-star: every node u re-points its smaller-or-equal neighborhood
    *    (and itself) at its minimum.
    * The fixpoint is a star forest: every edge is (node, component-min).
    * Convergence is detected by an (edge-count, xxhash64-sum) signature
    * observed during each round's materializing action — identical
    * signatures on consecutive rounds mean the edge set is stable.
    *
    * Output contract matches [[components]] exactly (verified by
    * `ConnectedComponentsSpec`): (id, cluster_id = component min) for every
    * node with at least one edge.
    */
  def componentsStar(pairs: DataFrame, aCol: String, bCol: String,
                     maxIters: Int = 50): DataFrame = {
    val nodes = pairs.select(col(aCol).as("id"))
      .union(pairs.select(col(bCol).as("id")))
      .distinct()
      .localCheckpoint(true)
    // canonical oriented edges (hi > lo); self-loops carry no information
    var edges = pairs.select(
        greatest(col(aCol), col(bCol)).as("hi"),
        least(col(aCol), col(bCol)).as("lo"))
      .where(col("hi") =!= col("lo"))
      .distinct()
      .localCheckpoint(true)
    // NO per-round broadcast gate here, unlike [[components]]: on the
    // star/chain shapes this variant exists for, the lmins/smins tables are
    // ≈|edges| rows (every node is its own group), so broadcasting them per
    // round (two builds × O(log n) rounds) costs more than the shuffles it
    // saves — measured a 20-26% regression on q128 when round 15 tried it
    // (driver 2.30→2.89 s; steady-state 3.02→3.60 s), reverted here. The
    // propagation variant keeps its gate: its label frame is genuinely
    // small relative to the dense bucket-clique edge streams it serves.
    var prevSig: (Long, BigDecimal) = (-1L, BigDecimal(-1))
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // large-star: E' = ∪_u { (v, min(Γ(u) ∪ {u})) : v ∈ Γ(u), v > u }
      val nbrs = edges.select(col("hi").as("u"), col("lo").as("v"))
        .union(edges.select(col("lo").as("u"), col("hi").as("v")))
      val lmins = nbrs.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      // NOT deduped here: duplicate (hi, lo) rows cannot change the min
      // aggregate below or the final round distinct, and dropping the
      // intermediate dedup saves a full shuffle per round
      val afterLarge = nbrs.where(col("v") > col("u"))
        .join(lmins, Seq("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
      // small-star on the oriented edges: per node u (as `hi`), point every
      // smaller neighbor AND u itself at min(Γ⁻(u)); each input row (u, v)
      // emits (u, m) when v == m, else (v, m) — exactly N ∪ {u} \ {m}
      val smins = afterLarge.groupBy("hi").agg(min(col("lo")).as("m"))
      val obs = Observation(s"cc_star_$i")
      val next = afterLarge.join(smins, Seq("hi"))
        .select(
          when(col("lo") === col("m"), col("hi")).otherwise(col("lo")).as("hi"),
          col("m").as("lo"))
        .distinct()
        .observe(obs,
          count(lit(1L)).as("n"),
          sum(xxhash64(col("hi"), col("lo")).cast("decimal(38,0)")).as("h"))
        .localCheckpoint(true)
      val sig = (longMetric(obs, "n"), decimalMetric(obs, "h"))
      converged = sig == prevSig
      prevSig = sig
      edges = next
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"ConnectedComponents.componentsStar did not converge in $maxIters rounds " +
          "(expected O(log n)); raise maxIters.")
    // fixpoint edge set is a star forest: (child, root). Roots (nodes never
    // appearing as a child) label themselves.
    val childLabels = edges.select(col("hi").as("id"), col("lo").as("cluster_id"))
    val rootLabels = nodes.join(childLabels.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cluster_id"))
    childLabels.union(rootLabels)
  }

  private def longMetric(obs: Observation, key: String): Long =
    Option(obs.get(key)).map(_.asInstanceOf[Number].longValue).getOrElse(0L)

  private def decimalMetric(obs: Observation, key: String): BigDecimal =
    Option(obs.get(key)) match {
      case Some(d: java.math.BigDecimal) => BigDecimal(d)
      case Some(n: Number)               => BigDecimal(n.longValue)
      case _                             => BigDecimal(0)
    }
}
