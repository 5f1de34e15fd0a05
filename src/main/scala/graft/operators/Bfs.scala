package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-source breadth-first hop distance over an undirected graph —
  * the reachability/propagation primitive the component and community
  * operators don't give you: HOW FAR each node sits from a seed set
  * (contamination blast radius, near-dup halo depth, influence rings).
  *
  * Semantics: `dist(n) = 0` for seeds, else the minimum number of edges
  * to any seed, computed by `rounds` synchronous relaxation rounds —
  * after round r every node within r hops carries its exact distance
  * (distances are monotone under min, so a fixed round count is a
  * radius budget, not an approximation knob). Unreached nodes are
  * absent from the output.
  *
  * Scale shape per round: one hash equi-join (frontier ⋈ edges on the
  * node id) plus one map-side-combined min aggregate; state is the
  * |reached|-sized distance frame, materialised per round by the
  * [[Rounds]] loop every iterative operator shares.
  * Relaxing the FULL distance frame each round (not a delta frontier)
  * keeps every round's plan identical and replayable as unrolled oracle
  * CTEs; a delta-frontier variant saves join input on high-diameter
  * graphs but the near-dup graphs this serves are shallow.
  */
object Bfs {

  /** `rounds` relaxation rounds from `seeds` (a 1-column frame of node
    * ids) over undirected `pairs`. Returns (node, dist). */
  def hops(pairs: DataFrame, aCol: String, bCol: String,
           seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1 (got $rounds)")
    relax(Edges.symmetric(pairs, aCol, bCol), seeds, rounds, lit(1L))
  }

  /** Weighted single/multi-source shortest paths — [[hops]] lifted from the
    * (min, +1) hop semiring to the full (min, +) semiring: `rounds`
    * synchronous Bellman–Ford relaxations of `dist(v) = min(dist(v),
    * min over (u,v,w) of dist(u) + w)` from the seed set. After round r
    * every node whose shortest path uses ≤ r edges carries its exact
    * distance — a fixed round count is an edge-depth budget, exactly
    * hops' radius-budget contract, and the result is monotone so extra
    * rounds never hurt correctness.
    *
    * Same relaxation loop as hops, over the edge list symmetrized once
    * with its weights intact. Weights must be non-negative longs — the
    * min-fold is then a lattice and micro-round order is irrelevant. */
  def sssp(pairs: DataFrame, aCol: String, bCol: String, wCol: String,
           seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1 (got $rounds)")
    // enforce the non-negative-weight precondition the (min,+) lattice
    // needs: a negative weight would silently turn "shortest path" into
    // "min-cost bounded walk". Row-level raise_error keeps the check
    // inside codegen (one branch per edge) and fails the job fast with
    // the offending value instead of producing wrong distances.
    val fwd = pairs.select(col(aCol).cast("long").as("u"),
      col(bCol).cast("long").as("v"),
      when(col(wCol).cast("long") < 0, raise_error(concat(
          lit("sssp: negative edge weight (shortest-path relaxation " +
            "requires w >= 0): "), col(wCol).cast("string"))))
        .otherwise(col(wCol).cast("long")).as("w"))
    relax(fwd.unionAll(fwd.select(col("v").as("u"), col("u").as("v"), col("w")))
      .where(col("u") =!= col("v")), seeds, rounds, col("w"))
  }

  /** The relaxation loop both entry points run: the edge list `e`
    * (u, v, …) is materialised once, and each round min-folds
    * `dist(u) + step` over it into the distance frame. */
  private def relax(e: DataFrame, seeds: DataFrame, rounds: Int,
                    step: Column): DataFrame = {
    val edges = e.localCheckpoint(true)
    try {
      val init = seeds.toDF("node")
        .select(col("node").cast("long").as("node")).distinct()
        .withColumn("dist", lit(0L))
        .localCheckpoint(true)
      Rounds.fixed(init, rounds) { dist =>
        dist.unionByName(edges
            .join(dist.withColumnRenamed("node", "u"), Seq("u"))
            .select(col("v").as("node"), (col("dist") + step).as("dist")))
          .groupBy(col("node"))
          .agg(min(col("dist")).as("dist"))
      }
    } finally Rounds.release(edges) // only the returned distances keep their blocks
  }
}
