package graft

import graft.llm.{DotProduct, NearestCell}
import graft.operators.ConnectedComponents
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

  test("propagation leaves only the returned labels persisted") {
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.keySet
    val labels = ConnectedComponents.components(mixedGraph, "a", "b")
    assert(labels.as[(Long, Long)].collect().sorted.toSeq == expected)
    // compared by id: the context cleaner may drop other suites' RDDs meanwhile
    assert((sc.getPersistentRDDs.keys.toSet -- persisted).size <= 1)
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
