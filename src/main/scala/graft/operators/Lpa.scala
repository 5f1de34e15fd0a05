package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation (LPA) community detection over an
  * undirected graph — the clustering complement to
  * [[ConnectedComponents]]: CC's min-label propagation merges everything
  * reachable; LPA's PLURALITY-label propagation splits dense regions into
  * communities, because a node adopts the label most of its neighbors
  * hold, not the smallest label anyone holds.
  *
  * Semantics (deterministic by construction — no random tie-breaks, no
  * vertex-order dependence): labels start as the node id; each round,
  * every node simultaneously adopts the label held by the plurality of
  * its neighbors, ties broken toward the SMALLEST label (the
  * `min(struct(-count, label))` election, same discipline as q185's
  * plurality-language vote). A fixed round count makes the result
  * replayable cross-engine; classic LPA's asynchronous/random variant is
  * deliberately not implemented.
  *
  * Scale shape per round: one hash equi-join (edges ⋈ labels on the
  * source endpoint — both hash-partition on node id) and one
  * map-side-combined two-level aggregate; state after each round is the
  * |nodes|-sized label frame, materialised per round by the [[Rounds]]
  * loop every iterative operator shares.
  */
object Lpa {

  /** Run `rounds` synchronous LPA rounds over undirected `pairs`.
    * Returns (node, label), one row per distinct endpoint. */
  def communities(pairs: DataFrame, aCol: String, bCol: String,
                  rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1 (got $rounds)")
    val edges = Edges.symmetric(pairs, aCol, bCol).localCheckpoint(true)
    try {
      val init = edges.select(col("u").as("node")).distinct()
        .select(col("node"), col("node").as("label"))
        .localCheckpoint(true)
      Rounds.fixed(init, rounds) { labels =>
        edges
          .join(labels.withColumnRenamed("node", "u"), Seq("u"))
          .groupBy(col("v"), col("label"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("v"))
          .agg(min(struct((-col("cnt")).as("neg"), col("label").as("l")))
            .as("win"))
          .select(col("v").as("node"), col("win.l").as("label"))
      }
    } finally Rounds.release(edges) // only the returned labels keep their blocks
  }
}
