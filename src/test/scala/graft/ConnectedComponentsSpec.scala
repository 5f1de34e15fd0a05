package graft

import graft.llm.{Bpe, DotProduct, NearestCell}
import graft.operators.{Bfs, ConnectedComponents, KCore, Lpa}
import graft.tools.JobCount
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

  /** Rows as their `Row.toString`, sorted: one shape for every result. */
  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
  private def pairRows(rows: Seq[(Long, Long)]): Seq[String] =
    rows.map { case (a, b) => s"[$a,$b]" }.sorted

  test("each graph loop leaves only what its result reads persisted") {
    val sc = spark.sparkContext
    val seed = Seq(1L).toDF("node")
    val near1 = pairRows(Seq(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 2L))
    // merges a+n, an+a, b+an (BpeSpec's trace of this corpus)
    val docs = Seq((1L, "banana bandana banana")).toDF("doc_id", "text")
    // (call, its result, the checkpoints that result may keep): KCore's
    // result reads its last edge set, componentsStar's its last edge set
    // and its node set, encodeStats' its last symbol table; trainRounds'
    // result is a local relation; every other result is itself the one
    // checkpoint
    val calls: Seq[(String, () => DataFrame, Seq[String], Int)] = Seq(
      ("components", () => ConnectedComponents.components(mixedGraph, "a", "b"),
        pairRows(expected), 1),
      // a 64-node path: star contraction runs ~log n rounds on it
      ("componentsStar", () => ConnectedComponents.componentsStar(
        (0L until 63L).map(i => (i, i + 1)).toDF("a", "b"), "a", "b"),
        pairRows((0L until 64L).map(_ -> 0L)), 2),
      ("Bfs.hops", () => Bfs.hops(mixedGraph, "a", "b", seed, rounds = 3), near1, 1),
      ("Bfs.sssp", () => Bfs.sssp(mixedGraph.withColumn("w", lit(1L)), "a", "b", "w", seed,
        rounds = 3), near1, 1),
      ("Lpa.communities", () => Lpa.communities(mixedGraph, "a", "b", rounds = 2), pairRows(Seq(
        1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 1L, 10L -> 10L, 11L -> 11L,
        20L -> 20L, 21L -> 21L, 22L -> 20L, 23L -> 21L, 24L -> 22L, 30L -> 30L, 31L -> 31L)), 1),
      ("KCore.peel", () => KCore.peel(mixedGraph, "a", "b", k = 2),
        pairRows(Seq(1L -> 2L, 2L -> 2L, 3L -> 2L)), 1),
      ("Bpe.trainRounds", () => Bpe.trainRounds(docs, "text", rounds = 3),
        Seq("[1,a n,6]", "[2,an a,3]", "[3,b an,3]"), 0),
      ("Bpe.encodeStats", () => Bpe.encodeStats(docs, "text", "doc_id", rounds = 3),
        Seq("[1,3,19,7,368421]"), 1))
    calls.foreach { case (name, call, rows, kept) =>
      val persisted = sc.getPersistentRDDs.keySet
      val out = call()
      // collected after the call: a released block the result reads would fail here
      assert(rowsOf(out) == rows, name)
      // compared by id: the context cleaner may drop other suites' RDDs meanwhile
      val added = (sc.getPersistentRDDs.keys.toSet -- persisted).size
      assert(added <= kept, s"$name left $added checkpoints persisted, allowed $kept")
    }
  }

  test("a loop that must converge and reaches its cap leaves nothing persisted") {
    val sc = spark.sparkContext
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    val path = spark.range(9999L).select(col("id").as("a"), (col("id") + 1).as("b"))
    for ((name, call) <- Seq[(String, () => DataFrame)](
        ("components", () => ConnectedComponents.components(chain, "a", "b", maxIters = 5)),
        ("componentsStar", () => ConnectedComponents.componentsStar(path, "a", "b", maxIters = 2)))) {
      val persisted = sc.getPersistentRDDs.keySet
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.contains("did not converge"), name)
      // compared by id: the context cleaner may drop other suites' RDDs meanwhile
      val added = sc.getPersistentRDDs.keys.toSet -- persisted
      assert(added.isEmpty, s"$name left ${added.size} checkpoints persisted")
    }
  }

  test("each graph loop launches the jobs it launched before the shared round loop") {
    // counts measured on mixedGraph before the loops moved onto Rounds: a
    // change here is a plan change, and the baseline a kernel port compares with
    val seed = Seq(1L).toDF("node")
    val pins: Seq[(String, () => DataFrame, Int)] = Seq(
      ("components", () => ConnectedComponents.components(mixedGraph, "a", "b"), 26),
      ("componentsStar", () => ConnectedComponents.componentsStar(mixedGraph, "a", "b"), 22),
      ("Bfs.hops", () => Bfs.hops(mixedGraph, "a", "b", seed, rounds = 3), 12),
      ("Bfs.sssp", () => Bfs.sssp(mixedGraph.withColumn("w", lit(1L)), "a", "b", "w", seed,
        rounds = 3), 11),
      ("Lpa.communities", () => Lpa.communities(mixedGraph, "a", "b", rounds = 2), 12),
      ("KCore.peel", () => KCore.peel(mixedGraph, "a", "b", k = 2), 11))
    pins.foreach { case (name, call, pinned) =>
      val (_, jobs) = JobCount.during(spark)(call())
      assert(jobs == pinned, s"$name launched $jobs jobs, pinned at $pinned")
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
