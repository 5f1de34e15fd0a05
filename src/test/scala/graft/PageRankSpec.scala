package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.operators.PageRank

class PageRankSpec extends SparkSpec {
  import spark.implicits._

  // scale 10^6 keeps the hand arithmetic readable; the operator contract
  // (init = scale div n, base = (init*15) div 100, damped integer sums) is
  // identical at the default 10^12
  test("hand graph: hub, spokes, and a source node — one and two rounds") {
    // 1→{2,3}, 2→1, 3→1, 4→1 (node 4 has no in-edges)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L), (4L, 1L))
      .toDF("src", "dst")
    // n=4: init = 250000, base = 37500
    // round 1: s(1) = 250000+250000+250000 = 750000; s(2)=s(3) = 125000
    //   r1(1) = 37500 + 85*750000 div 100 = 675000
    //   r1(2) = r1(3) = 37500 + 85*125000 div 100 = 143750
    //   r1(4) = 37500 (no in-edges → teleport floor only)
    val r1 = PageRank.ranksFp(edges, "src", "dst", iters = 1, scale = 1000000L)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(r1.toSeq == Seq((1L, 675000L), (2L, 143750L), (3L, 143750L), (4L, 37500L)))
    // round 2: s(1) = 143750+143750+37500 = 325000; s(2)=s(3) = 675000 div 2
    //   r2(1) = 37500 + 85*325000 div 100 = 313750
    //   r2(2) = r2(3) = 37500 + 85*337500 div 100 = 324375
    val r2 = PageRank.ranksFp(edges, "src", "dst", iters = 2, scale = 1000000L)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(r2.toSeq == Seq((1L, 313750L), (2L, 324375L), (3L, 324375L), (4L, 37500L)))
  }

  test("dangling redistribution conserves total mass; default drops it") {
    // 1→2, 1→3: nodes 2 and 3 are dangling sinks
    val edges = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    // hand check at scale 10^12, n=3, 1 round with redistribution:
    //   init = 333333333333, base = 49999999999
    //   dangling pool = r(2)+r(3) = 666666666666 → share = 222222222222
    //   r1(1) = base + 85·share div 100                        = 238888888887
    //   r1(2) = r1(3) = base + 85·(166666666666 + share) div 100 = 380555555553
    val redist = PageRank.ranksFp(edges, "src", "dst", iters = 1,
        danglingRedistribute = true)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(redist.toSeq == Seq((1L, 238888888887L),
      (2L, 380555555553L), (3L, 380555555553L)))
    // total stays ≈ scale (integer-truncation loss only)…
    assert(math.abs(redist.map(_._2).sum - 1000000000000L) < 100L)
    // …whereas the default drops the sinks' damped mass entirely
    val dropped = PageRank.ranksFp(edges, "src", "dst", iters = 1)
      .collect().map(_.getLong(1)).sum
    assert(dropped < 700000000000L)
  }

  test("3-cycle: symmetric ranks, floor drift only") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    // n=3: init = 333333, base = 49999; every round r' = 49999 + 85r div 100
    val r2 = PageRank.ranksFp(edges, "src", "dst", iters = 2, scale = 1000000L)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    // r1 = 49999 + 283333 = 333332; r2 = 49999 + 283332 = 333331
    assert(r2.toSeq == Seq((1L, 333331L), (2L, 333331L), (3L, 333331L)))
  }

  test("guards: empty graph and bad iters fail fast") {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      PageRank.ranksFp(edges, "src", "dst", iters = 0)
    }
    intercept[IllegalArgumentException] {
      PageRank.ranksFp(edges.where(lit(false)), "src", "dst", iters = 1)
    }
  }

  private def rows(df: DataFrame): Seq[(java.lang.Long, java.lang.Long)] =
    df.orderBy("id").collect().toSeq
      .map(r => (r.getAs[java.lang.Long](0), r.getAs[java.lang.Long](1)))

  // Under the node gate ranks come from driver arrays; gate 0 forces the
  // shuffle-join loop every graph past the gate takes.
  private def assertParity(edges: DataFrame, wCol: Option[String] = None,
                           iters: Int = 3, scale: Long = 1000000000000L,
                           redistribute: Boolean = false): Seq[(java.lang.Long, java.lang.Long)] = {
    val Seq(driver, distributed) = Seq(1000000L, 0L).map(gate =>
      PageRank.ranksAt(gate, edges, "src", "dst", wCol, iters, scale, redistribute))
    assert(driver.schema == distributed.schema)
    val got = rows(driver)
    assert(got == rows(distributed))
    got
  }

  test("driver and distributed paths agree: hand graph, sinks, duplicates, weights, nulls") {
    val hand = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L), (4L, 1L)).toDF("src", "dst")
    assert(assertParity(hand, iters = 2, scale = 1000000L).map(p => (p._1.longValue, p._2.longValue)) ==
      Seq((1L, 313750L), (2L, 324375L), (3L, 324375L), (4L, 37500L)))
    // sinks 2, 3 and 5 pool their rank every round
    val sinks = Seq((1L, 2L), (1L, 3L), (4L, 1L), (4L, 5L)).toDF("src", "dst")
    assertParity(sinks, iters = 4, redistribute = true)
    assertParity(sinks, iters = 4)
    // the repeated 1→2 counts twice in deg(1): 2 takes two thirds of r(1)
    val dup = Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    val d = assertParity(dup, iters = 1, scale = 1000000L)
    // n=3: init = 333333, base = 49999; s(2) = 2·(333333 div 3) = 222222
    assert(d.map(_._2.longValue) == Seq(49999L + 85L * 666666L / 100L,
      49999L + 85L * 222222L / 100L, 49999L + 85L * 111111L / 100L))
    // nullable input columns: the schema's nullability follows them
    val weighted = Seq((Some(1L), Some(2L), Some(3L)), (Some(1L), Some(3L), Some(1L)),
      (Some(2L), Some(1L), Some(5L)), (Some(3L), Some(1L), Some(2L)), (Some(3L), Some(4L), Some(7L)))
      .toDF("src", "dst", "w")
    assert(weighted.schema("src").nullable)
    assertParity(weighted, wCol = Some("w"), iters = 3)
    // a null id is a node of its own that no edge reaches
    val withNull = Seq((Some(1L), Some(2L)), (Some(2L), None), (None, Some(1L))).toDF("src", "dst")
    assertParity(withNull, iters = 2, redistribute = true)
    // 70,001 nodes span two of the driver path's node blocks; three edge
    // partitions each reach both, and node 70000 is a sink
    val wide = spark.range(0L, 70000L, 1L, 3)
      .select(col("id").as("src"), ((col("id") * 7L + 1L) % 70001L).as("dst"))
    assertParity(wide, iters = 2, redistribute = true)
  }

  test("under the gate a call runs at most iters + 3 jobs and leaves nothing persisted") {
    val sc = spark.sparkContext
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L), (4L, 1L), (2L, 5L)).toDF("src", "dst")
    val key = "graft.test.pagerank"
    for (k <- Seq(1, 5)) {
      val seen = new ConcurrentLinkedQueue[String]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          seen.add(Option(e.properties).flatMap(p => Option(p.getProperty(key))).getOrElse("<unset>"))
      }
      val persisted = sc.getPersistentRDDs.keySet
      sc.addSparkListener(listener)
      try {
        sc.setLocalProperty(key, "pagerank")
        PageRank.ranksFp(edges, "src", "dst", iters = k, danglingRedistribute = true)
        // listener events arrive in order: the marker comes after the call's jobs
        sc.setLocalProperty(key, "marker")
        spark.range(1).count()
        eventually(timeout(30.seconds))(assert(seen.contains("marker")))
      } finally {
        sc.setLocalProperty(key, null)
        sc.removeSparkListener(listener)
      }
      val jobs = seen.asScala.toList.takeWhile(_ != "marker").count(_ == "pagerank")
      assert(jobs >= k && jobs <= k + 3, s"iters = $k launched $jobs jobs")
      // compared by id: the context cleaner may drop other suites' RDDs meanwhile
      assert((sc.getPersistentRDDs.keySet -- persisted).isEmpty)
    }
  }

  test("weighted: each edge carries r·w div Σw of its source, on both paths") {
    // 1→2 (3), 1→3 (1), 2→1 (1), 3→1 (2); n=3: init = 333333, base = 49999
    // round 1: s(1) = 333333 + 333333·2 div 2 = 666666
    //          s(2) = 333333·3 div 4 = 249999; s(3) = 333333 div 4 = 83333
    val edges = Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 1L, 1L), (3L, 1L, 2L))
      .toDF("src", "dst", "w")
    val expected = Seq((1L, 49999L + 566666L), (2L, 49999L + 212499L), (3L, 49999L + 70833L))
    val r1 = PageRank.ranksFpWeighted(edges, "src", "dst", "w", iters = 1, scale = 1000000L)
    assert(rows(r1).map(p => (p._1.longValue, p._2.longValue)) == expected)
    assertParity(edges, wCol = Some("w"), iters = 1, scale = 1000000L)
  }

  private def causes(t: Throwable): List[Throwable] =
    if (t == null) Nil else t :: causes(t.getCause)

  test("weighted guards: a non-positive weight fails; scale·w past 2^63 raises on both paths") {
    val zero = Seq((1L, 2L, 1L), (2L, 1L, 0L)).toDF("src", "dst", "w")
    val bad = intercept[Exception](
      PageRank.ranksFpWeighted(zero, "src", "dst", "w", iters = 1).collect())
    assert(causes(bad).exists(c => String.valueOf(c.getMessage).contains("must be positive")), bad)
    // n=2: init = 5·10^11, and 5·10^11 · 10^8 > 2^63
    val heavy = Seq((1L, 2L, 100000000L), (2L, 1L, 1L)).toDF("src", "dst", "w")
    for (gate <- Seq(1000000L, 0L)) {
      val over = intercept[Exception](PageRank.ranksAt(gate, heavy, "src", "dst", Some("w"),
        1, 1000000000000L, danglingRedistribute = false).collect())
      assert(causes(over).exists(_.isInstanceOf[ArithmeticException]), s"gate $gate: $over")
    }
  }
}
