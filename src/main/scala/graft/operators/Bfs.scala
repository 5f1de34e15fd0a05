package graft.operators

import org.apache.spark.sql.DataFrame
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
  * |reached|-sized distance frame, `localCheckpoint`ed per round so
  * lineage stays flat (the [[PageRank]]/[[Lpa]] iterative discipline).
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
    val edges = pairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .where(col("u") =!= col("v"))
      .union(pairs.select(col(bCol).cast("long").as("u"),
        col(aCol).cast("long").as("v")).where(col("u") =!= col("v")))
      .distinct()
      .localCheckpoint(true)
    var dist = seeds.toDF("node")
      .select(col("node").cast("long").as("node")).distinct()
      .withColumn("dist", lit(0L))
      .localCheckpoint(true)
    var r = 0
    while (r < rounds) {
      val relaxed = edges
        .join(dist.withColumnRenamed("node", "u"), Seq("u"))
        .select(col("v").as("node"), (col("dist") + 1).as("dist"))
      dist = relaxAndRelease(dist, relaxed)
      r += 1
    }
    // only the returned distances keep their blocks
    PageRank.release(edges)
    dist
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
    * Scale shape per round is identical to hops: ONE hash equi-join
    * (distance frame ⋈ edges on the source node) + ONE map-side-combined
    * min aggregate; the edge list (symmetrized once, weights intact) and
    * each round's distance frame are `localCheckpoint`ed so lineage stays
    * flat. Weights must be non-negative longs — the min-fold is then a
    * lattice and micro-round order is irrelevant. */
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
    val edges = fwd
      .unionAll(fwd.select(col("v").as("u"), col("u").as("v"), col("w")))
      .where(col("u") =!= col("v"))
      .localCheckpoint(true)
    var dist = seeds.toDF("node")
      .select(col("node").cast("long").as("node")).distinct()
      .withColumn("dist", lit(0L))
      .localCheckpoint(true)
    var r = 0
    while (r < rounds) {
      val relaxed = edges
        .join(dist.withColumnRenamed("node", "u"), Seq("u"))
        .select(col("v").as("node"), (col("dist") + col("w")).as("dist"))
      dist = relaxAndRelease(dist, relaxed)
      r += 1
    }
    PageRank.release(edges)
    dist
  }

  /** One round's min-fold of `relaxed` into `dist`, checkpointed; the
    * checkpoint reads none of `dist`'s lineage, so `dist` is released. */
  private def relaxAndRelease(dist: DataFrame, relaxed: DataFrame): DataFrame = {
    val next = dist.unionByName(relaxed)
      .groupBy(col("node"))
      .agg(min(col("dist")).as("dist"))
      .localCheckpoint(true)
    PageRank.release(dist)
    next
  }
}
