package graft

import graft.llm.{DotProduct, NearestCell}
import graft.operators.{Bfs, ConnectedComponents, KCore, Lpa}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  // cliques, a chain, a pair, duplicate + reversed edges, a self-loop
  private def mixedGraph = Seq(
    (1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (4L, 5L), // clique-ish {1..5}
    (10L, 11L), (11L, 10L),                           // pair, both directions
    (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L),   // chain
    (30L, 31L), (30L, 31L),                           // duplicate edge
    (40L, 40L)                                        // self-loop
  ).toDF("a", "b")

  private val expected = Seq(
    1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
    10L -> 10L, 11L -> 10L,
    20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L, 24L -> 20L,
    30L -> 30L, 31L -> 30L,
    40L -> 40L)

  test("propagation labels every node with its component min") {
    val got = ConnectedComponents.components(mixedGraph, "a", "b")
      .as[(Long, Long)].collect().sorted.toSeq
    assert(got == expected)
  }

  test("each graph loop leaves only what its result reads persisted") {
    val sc = spark.sparkContext
    val seed = Seq(1L).toDF("node")
    val near1 = Seq(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 2L)
    // (call, its result, the checkpoints that result may keep): KCore's
    // result reads its last edge set, componentsStar's its last edge set
    // and its node set; every other result is itself the one checkpoint
    val calls: Seq[(String, () => DataFrame, Seq[(Long, Long)], Int)] = Seq(
      ("components", () => ConnectedComponents.components(mixedGraph, "a", "b"), expected, 1),
      // a 64-node path: star contraction runs ~log n rounds on it
      ("componentsStar", () => ConnectedComponents.componentsStar(
        (0L until 63L).map(i => (i, i + 1)).toDF("a", "b"), "a", "b"),
        (0L until 64L).map(_ -> 0L), 2),
      ("Bfs.hops", () => Bfs.hops(mixedGraph, "a", "b", seed, rounds = 3), near1, 1),
      ("Bfs.sssp", () => Bfs.sssp(mixedGraph.withColumn("w", lit(1L)), "a", "b", "w", seed,
        rounds = 3), near1, 1),
      ("Lpa.communities", () => Lpa.communities(mixedGraph, "a", "b", rounds = 2), Seq(
        1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 1L, 10L -> 10L, 11L -> 11L,
        20L -> 20L, 21L -> 21L, 22L -> 20L, 23L -> 21L, 24L -> 22L, 30L -> 30L, 31L -> 31L), 1),
      ("KCore.peel", () => KCore.peel(mixedGraph, "a", "b", k = 2),
        Seq(1L -> 2L, 2L -> 2L, 3L -> 2L), 1))
    calls.foreach { case (name, call, rows, kept) =>
      val persisted = sc.getPersistentRDDs.keySet
      val out = call()
      // collected after the call: a released block the result reads would fail here
      assert(out.as[(Long, Long)].collect().sorted.toSeq == rows, name)
      // compared by id: the context cleaner may drop other suites' RDDs meanwhile
      val added = (sc.getPersistentRDDs.keys.toSet -- persisted).size
      assert(added <= kept, s"$name left $added checkpoints persisted, allowed $kept")
    }
  }

  test("large-star/small-star produces identical output to propagation") {
    val got = ConnectedComponents.componentsStar(mixedGraph, "a", "b")
      .as[(Long, Long)].collect().sorted.toSeq
    assert(got == expected)
  }

  test("propagation fails fast instead of returning partial labels") {
    // path graph of diameter 40 with maxIters 5: silently returning
    // partially-propagated labels would be wrong cluster ids
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      ConnectedComponents.components(chain, "a", "b", maxIters = 5).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("star contraction converges in O(log n) rounds on a 10k-node path") {
    // diameter 10_000: propagation would need 10k rounds; the star
    // contraction must finish inside its default 50-round cap
    val n = 10000L
    val path = spark.range(n - 1).select(col("id").as("a"), (col("id") + 1).as("b"))
    val labels = ConnectedComponents.componentsStar(path, "a", "b")
    assert(labels.where(col("cluster_id") =!= 0L).count() == 0L)
    assert(labels.count() == n)
  }

  test("DotProduct fails fast on length-mismatched vectors") {
    val e = intercept[IllegalArgumentException] {
      DotProduct.impl(
        new GenericArrayData(Array[Any](1.0, 2.0)),
        new GenericArrayData(Array[Any](1.0)))
    }
    assert(e.getMessage.contains("length mismatch"))
  }

  test("NearestCell names the contract violation for k==0 and short vectors") {
    val empty = new GenericArrayData(Array.empty[Any])
    val v2 = new GenericArrayData(Array[Any](1.0, 2.0))
    val flat4 = new GenericArrayData(Array[Any](1.0, 2.0, 3.0, 4.0))
    val norms1 = new GenericArrayData(Array[Any](math.sqrt(30.0)))
    val e0 = intercept[IllegalArgumentException] { NearestCell.impl(v2, flat4, empty) }
    assert(e0.getMessage.contains("empty centroid set"))
    val e1 = intercept[IllegalArgumentException] { NearestCell.impl(v2, flat4, norms1) }
    assert(e1.getMessage.contains("fixed-width"))
  }
}
