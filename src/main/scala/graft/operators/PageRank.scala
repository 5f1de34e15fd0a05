package graft.operators

import java.util.Arrays

import org.apache.spark.HashPartitioner
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Fixed-iteration PageRank over an edge list (Page/Brin/Motwani/Winograd
  * 1999) — the classic link-authority score a web-scale curation pipeline
  * uses to weight crawl quality (OpenWebText/CCNet-style "well-linked
  * pages are higher quality" priors).
  *
  * Exactness: ranks are FIXED-POINT BIGINTs. With `scale` = 10¹²,
  * r⁰ = scale div n, and each round computes
  *
  *   rᵢ₊₁(v) = base + (85 · Σ_{u→v} (rᵢ(u) div outdeg(u))) div 100
  *   base    = ((scale div n) · 15) div 100
  *
  * — every operation an integer multiply/divide/sum, so the result is
  * bit-identical across engines and partitionings (a float rank would make
  * the per-destination sum order-dependent). The damping factor is the
  * standard 0.85 expressed as the rational 85/100. Overflow raises on
  * both paths below (ANSI arithmetic in SQL, `Math.addExact`/
  * `multiplyExact` on arrays) instead of wrapping.
  *
  * Semantics notes, both deliberate and documented:
  *  - FIXED iteration count, not convergence-tested: the caller picks
  *    `iters` (power iteration's error decays as 0.85^k, so 20–50 rounds
  *    is production-grade; tests use fewer). Deterministic round count is
  *    also what makes the result oracle-checkable.
  *  - Dangling nodes (outdeg 0) drop their mass by default — the common
  *    simplification; total mass then decays toward the teleport floor but
  *    RELATIVE ranking is preserved, which is all a quality-weighting
  *    consumer reads. `danglingRedistribute = true` switches to the full
  *    Page et al. treatment: each round the dangling nodes' pooled rank is
  *    split `div n` across every node (inside the damped term), keeping
  *    total mass ≈ scale so absolute ranks stay comparable across graphs.
  *
  * Two paths, chosen by the node count ([[PerRoundBroadcastMaxNodes]]):
  *  - n ≤ 1M: the rank vector lives on the DRIVER. One bounded collect
  *    reads (id, out-degree) for every node; the edges are mapped once to
  *    dense node-index arrays per partition, persisted for the length of
  *    the call. Each round broadcasts r (no job) and runs ONE job that
  *    sums contributions per destination on the executors, keyed by
  *    fixed-size node blocks, so the driver takes in n longs a round
  *    whatever the partition count. The dangling pool and the next r are
  *    computed on the driver; the result is parallelized from the final
  *    arrays and the call leaves no cached data or broadcast behind.
  *  - n > 1M (billions of nodes at 100 TB): per round, ONE
  *    hash-partitioned equi-join of the rank table against the
  *    degree-annotated edge list and ONE map-side-combined sum keyed by
  *    destination; the pooled dangling mass is a one-row aggregate
  *    broadcast into the round. The edge⋈degree join is computed once
  *    before the loop, and the loop localCheckpoints every round's ranks
  *    to cut lineage.
  */
object PageRank {

  /** Fixed-point ranks after `iters` power-iteration rounds.
    * Returns (id, r_fp), unordered — callers sort at the dump layer. */
  def ranksFp(edges: DataFrame, srcCol: String, dstCol: String,
              iters: Int, scale: Long = 1000000000000L,
              danglingRedistribute: Boolean = false): DataFrame =
    ranksAt(PerRoundBroadcastMaxNodes, edges, srcCol, dstCol, None, iters,
      scale, danglingRedistribute)

  /** Node-count gate for node-bounded state that passes through the driver
    * EVERY round — deliberately below the 4M one-shot gate (Triangles)
    * because a loop pays it per round (round-15 advice: count-based
    * per-round broadcasts near the gate are a new driver-memory risk
    * profile). PageRank's driver path and [[ConnectedComponents]]'
    * per-round broadcasts share it. */
  private[operators] val PerRoundBroadcastMaxNodes = 1000000L

  /** WEIGHTED fixed-point PageRank: each out-edge carries `r·w div Σw`
    * of its source's rank instead of the uniform `r div deg` — the
    * strength-aware variant a co-purchase / citation graph wants (a
    * 100-count edge should pull 100× a singleton). Same paths and round
    * loop as [[ranksFp]]. Weights must be POSITIVE (raise_error-guarded,
    * the Bfs.sssp rule) and bounded so `scale · w` stays under 2⁶³ — fine
    * for count-valued weights; a product past it raises. Dangling mass
    * evaporates (callers wanting redistribution: q143's [[ranksFp]] flag
    * shows the shape). Returns (id, r_fp). */
  def ranksFpWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                      wCol: String, iters: Int,
                      scale: Long = 1000000000000L): DataFrame =
    ranksAt(PerRoundBroadcastMaxNodes, edges, srcCol, dstCol, Some(wCol),
      iters, scale, danglingRedistribute = false)

  /** Both entry points with the driver-path node gate as a parameter, so
    * tests can run the distributed path on small graphs. `wCol = None`
    * gives every edge weight 1, which makes `r·w div Σw` exactly
    * `r div deg`. */
  private[graft] def ranksAt(gate: Long, edges: DataFrame, srcCol: String,
                             dstCol: String, wCol: Option[String], iters: Int,
                             scale: Long,
                             danglingRedistribute: Boolean): DataFrame = {
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    require(scale >= 1000000L, s"scale must be >= 10^6 (got $scale)")
    val w = wCol.fold(lit(1L)) { c =>
      when(col(c).cast("long") <= 0, raise_error(concat(
          lit("ranksFpWeighted: edge weights must be positive, got "),
          col(c).cast("string"))))
        .otherwise(col(c).cast("long"))
    }
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"), w.as("w"))
    // (id, Σ out-weight) per node, at most gate + 1 rows: n, the
    // out-degrees and the dangling set (Σw = 0) in one bounded collect
    val probe = e.select(col("src").as("id"), col("w"))
      .union(e.select(col("dst").as("id"), lit(0L).as("w")))
      .groupBy(col("id")).agg(sum(col("w")).as("sw"))
      .limit(Math.toIntExact(gate + 1))
      .collect()
    require(probe.nonEmpty, "PageRank over an empty graph")
    // A null id or weight takes the distributed path: there a null id is a
    // node no edge reaches and a null weight's share is dropped, which
    // the SQL joins and sums express and the index arrays do not.
    if (probe.length > gate || probe.exists(_.anyNull))
      distributed(e, iters, scale, danglingRedistribute)
    else
      onDriver(e, probe, wCol.isDefined, iters, scale, danglingRedistribute)
  }

  /** Longest node block one reduce task sums and returns to the driver. */
  private val MaxBlockLen = 1 << 16

  private def onDriver(e: DataFrame, probe: Array[Row], weighted: Boolean,
                       iters: Int, scale: Long,
                       danglingRedistribute: Boolean): DataFrame = {
    val spark = e.sparkSession
    val sc = spark.sparkContext
    val ids = probe.map(_.getLong(0))
    Arrays.sort(ids)
    val n = ids.length
    val sw = new Array[Long](n)
    probe.foreach(row => sw(Arrays.binarySearch(ids, row.getLong(0))) = row.getLong(1))
    val dangling =
      if (danglingRedistribute) (0 until n).filter(sw(_) == 0L).toArray
      else Array.emptyIntArray
    val init = scale / n
    val base = (init * 15L) / 100L
    val blocks = (n + MaxBlockLen - 1) / MaxBlockLen
    val blockLen = (n + blocks - 1) / blocks
    val idsB = sc.broadcast(ids)
    val swB = sc.broadcast(sw)
    val parts = indexEdges(e, idsB, weighted, blockLen, blocks)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var r = Array.fill(n)(init)
      for (_ <- 1 to iters) {
        val s = roundSums(parts, sc.broadcast(r), swB, n, blockLen, blocks)
        var t = 0L
        dangling.foreach(i => t = Math.addExact(t, r(i)))
        val share = t / n
        r = Array.tabulate(n)(i => Math.addExact(base,
          Math.multiplyExact(85L, Math.addExact(s(i), share)) / 100L))
      }
      val schema = StructType(Seq(
        StructField("id", LongType, e.schema("src").nullable || e.schema("dst").nullable),
        StructField("r_fp", LongType, nullable = true)))
      spark.createDataFrame(sc.parallelize(ids.indices.map(i => Row(ids(i), r(i)))), schema)
    } finally {
      parts.unpersist(blocking = false)
      idsB.destroy()
      swB.destroy()
    }
  }

  /** One partition's edges as node indices: edge i runs from `src(i)` with
    * weight `w(i)` (all 1 when `w` is null) into `dst(at(i))`, where `dst`
    * holds the partition's distinct destinations in ascending order and
    * `cut(b)` is the first slot of `dst` in node block b. */
  private final class EdgePart(src: Array[Int], w: Array[Long], at: Array[Int],
                               dst: Array[Int], cut: Array[Int], blockLen: Int)
      extends Serializable {

    /** This partition's sums of `r·w div Σw` per destination, as one
      * sparse (offset in block, sum) partial per node block it reaches. */
    def partials(r: Array[Long], sw: Array[Long]): Iterator[(Int, (Array[Int], Array[Long]))] = {
      val acc = new Array[Long](dst.length)
      var i = 0
      while (i < src.length) {
        val u = src(i)
        val c = if (w == null) r(u) / sw(u) else Math.multiplyExact(r(u), w(i)) / sw(u)
        acc(at(i)) = Math.addExact(acc(at(i)), c)
        i += 1
      }
      (0 until cut.length - 1).iterator.filter(b => cut(b) < cut(b + 1)).map { b =>
        (b, (dst.slice(cut(b), cut(b + 1)).map(_ - b * blockLen), acc.slice(cut(b), cut(b + 1))))
      }
    }
  }

  private def indexEdges(e: DataFrame, idsB: Broadcast[Array[Long]], weighted: Boolean,
                         blockLen: Int, blocks: Int): RDD[EdgePart] =
    e.queryExecution.toRdd.mapPartitions { rows =>
      val ids = idsB.value
      val src = Array.newBuilder[Int]
      val to = Array.newBuilder[Int]
      val w = Array.newBuilder[Long]
      rows.foreach { row =>
        src += Arrays.binarySearch(ids, row.getLong(0))
        to += Arrays.binarySearch(ids, row.getLong(1))
        if (weighted) w += row.getLong(2)
      }
      val dstOf = to.result()
      val sorted = dstOf.clone()
      Arrays.sort(sorted)
      var k = 0
      for (x <- sorted) if (k == 0 || sorted(k - 1) != x) { sorted(k) = x; k += 1 }
      val dst = Arrays.copyOf(sorted, k)
      val cut = Array.tabulate(blocks + 1) { b =>
        val p = Arrays.binarySearch(dst, b * blockLen)
        if (p >= 0) p else -p - 1
      }
      Iterator.single(new EdgePart(src.result(), if (weighted) w.result() else null,
        dstOf.map(Arrays.binarySearch(dst, _)), dst, cut, blockLen))
    }

  private def addInto(acc: Array[Long], p: (Array[Int], Array[Long])): Array[Long] = {
    var j = 0
    while (j < p._1.length) {
      acc(p._1(j)) = Math.addExact(acc(p._1(j)), p._2(j))
      j += 1
    }
    acc
  }

  /** One round's per-destination sums: ONE job whose reduce tasks each own
    * a node block, so the driver receives n longs in all. Destroys `rB`. */
  private def roundSums(parts: RDD[EdgePart], rB: Broadcast[Array[Long]],
                        swB: Broadcast[Array[Long]], n: Int, blockLen: Int,
                        blocks: Int): Array[Long] = {
    val sums = try {
      parts.flatMap(_.partials(rB.value, swB.value))
        .combineByKeyWithClassTag[Array[Long]](
          p => addInto(new Array[Long](blockLen), p), addInto,
          (a, b) => { for (j <- a.indices) a(j) = Math.addExact(a(j), b(j)); a },
          new HashPartitioner(blocks), mapSideCombine = false)
        .collect()
    } finally rB.destroy()
    val s = new Array[Long](n)
    for ((b, a) <- sums)
      System.arraycopy(a, 0, s, b * blockLen, math.min(blockLen, n - b * blockLen))
    s
  }

  /** The shuffle-join loop for graphs past the gate; `e` is (src, dst, w). */
  private def distributed(e: DataFrame, iters: Int, scale: Long,
                          danglingRedistribute: Boolean): DataFrame = {
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct()
      .localCheckpoint(true)
    // one driver scalar (a bounded collect by construction — same license
    // as the corpus-size reads in BooksEtl.summarize)
    val n = nodes.count()
    val init = scale / n
    val base = (init * 15L) / 100L
    // degree-annotated edges, computed once: (src, dst, w, sw)
    val sw = e.groupBy(col("src")).agg(sum(col("w")).as("sw"))
    val ed = e.join(sw, Seq("src")).localCheckpoint(true)
    // dangling node set is fixed across rounds: nodes with no out-edges
    val danglingIds =
      if (danglingRedistribute)
        nodes.join(sw, nodes("id") === sw("src"), "left_anti").localCheckpoint(true)
      else null
    var r = nodes.select(col("id"), lit(init).as("r_fp"))
    for (_ <- 1 to iters) {
      val s = ed.join(r, col("src") === col("id"))
        .select(col("dst"), expr("(r_fp * w) div sw").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      val joined = nodes.join(s, nodes("id") === s("dst"), "left")
      // pooled dangling mass, pre-split div n: one row, broadcast into the
      // round's plan. This branch reads r TWICE per round (rank join +
      // dangling pool), which the per-round checkpoint keeps from
      // executing r's chain once per consumer.
      val pooled =
        if (danglingRedistribute)
          joined.crossJoin(broadcast(
            r.join(danglingIds, Seq("id"), "left_semi")
              .agg(coalesce(sum(col("r_fp")), lit(0L)).as("t"))
              .select(expr(s"t div ${n}L").as("__share"))))
        else joined.withColumn("__share", lit(0L))
      // Per-round materialization kept DELIBERATELY: a checkpoint-every-k
      // stride was A/B'd at 10M edges / 500k nodes / 12 rounds in round 16
      // and measured a WASH — alternating probes spanned 13.9–20.5 s
      // (stride) vs 14.5–21.3 s (per-round).
      r = pooled.select(nodes("id"),
          (lit(base) + expr("(85 * (coalesce(s, 0L) + __share)) div 100")).as("r_fp"))
        .localCheckpoint(true)
    }
    r
  }
}
