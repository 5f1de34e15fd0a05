package graft

import org.apache.spark.sql.functions._

import graft.llm.{Dedup, RandomProjection, Sampling, Similarity, TextAnalysis}

/** Unit coverage for the round-7 operators, independent of the sf0.01
  * oracle corpus: projection arithmetic, centroid-cosine exactness, the
  * epoch-plan quota split, vocab-boundary tie-breaks, bucket assignment,
  * and n-gram novelty attribution. */
class Round7OpsSpec extends SparkSpec {
  import spark.implicits._

  test("RandomProjection.signMatrix is deterministic ±1 and seed-sensitive") {
    val m1 = RandomProjection.signMatrix(4, 8, "rp")
    val m2 = RandomProjection.signMatrix(4, 8, "rp")
    val m3 = RandomProjection.signMatrix(4, 8, "other")
    assert(m1.map(_.toSeq).toSeq == m2.map(_.toSeq).toSeq)
    assert(m1.map(_.toSeq).toSeq != m3.map(_.toSeq).toSeq)
    assert(m1.flatten.forall(v => v == 1.0 || v == -1.0))
  }

  test("project computes the exact signed sums, row-locally") {
    val vecs = Seq((1L, Array(1.0f, 2.0f, 4.0f)), (2L, Array(0.5f, -1.5f, 8.0f)))
      .toDF("vec_id", "embedding")
    val m = RandomProjection.signMatrix(2, 3, "rp")
    val got = RandomProjection.project(vecs, "embedding", "proj", 2, 3)
      .select(col("vec_id"), col("proj"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    for ((id, v) <- Seq(1L -> Seq(1.0, 2.0, 4.0), 2L -> Seq(0.5, -1.5, 8.0));
         j <- 0 until 2) {
      val want = v.zip(m(j)).foldLeft(0.0) { case (s, (x, sg)) => s + x * sg }
      assert(got(id)(j) == want, s"vec $id component $j")
    }
  }

  test("centroidSimilarity: cosine of integer-quantized group sums, pairs once") {
    // group 0: (1,0) and (1,0) -> centroid along x; group 1: (0,2) -> y;
    // group 2: (3,3) -> diagonal. cos(0,1)=0, cos(0,2)=cos(45°), cos(1,2) same
    val emb = Seq(
      (1L, 0, Array(1.0f, 0.0f)), (2L, 0, Array(1.0f, 0.0f)),
      (3L, 1, Array(0.0f, 2.0f)), (4L, 2, Array(3.0f, 3.0f)))
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.centroidSimilarity(emb, "label")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.keySet == Set((0, 1), (0, 2), (1, 2)))
    assert(got((0, 1)) == 0.0)
    assert(math.abs(got((0, 2)) - math.sqrt(0.5)) < 1e-12)
    assert(math.abs(got((1, 2)) - math.sqrt(0.5)) < 1e-12)
  }

  test("epochPlan: full epochs + hash-order fractional tail, absent quota -> 0 copies") {
    // source a: 3 docs x 10 tokens (total 30), quota 75 -> 2 full epochs,
    // tail 15 admits the first doc (cum 10) in md5 order but not the second
    val docs = Seq((1L, "a", 10L), (2L, "a", 10L), (3L, "a", 10L),
      (4L, "b", 7L)).toDF("doc_id", "source", "n_tokens")
    val quotas = Seq(("a", 75L)).toDF("source", "quota")
    val got = Sampling.epochPlan(docs, "doc_id", "source", "n_tokens", quotas)
      .select(col("doc_id"), col("full_epochs"), col("extra"), col("n_copies"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2), r.getLong(3))))
      .toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val order = Seq(1L, 2L, 3L).sortBy(i => md5hex(i.toString))
    assert(got(order(0)) == ((2L, true, 3L)))   // cum 10 <= 15
    assert(got(order(1)) == ((2L, false, 2L)))  // cum 20 > 15
    assert(got(order(2)) == ((2L, false, 2L)))
    assert(got(4L) == ((0L, false, 0L)))        // no quota row -> quota 0
  }

  test("vocabCoverage: count-desc term-asc boundary, exact OOV counts, empty docs") {
    // counts: x=4, y=3, b=2, a=2, z=1; V=3 -> vocab {x, y, a} (a beats b
    // only by... no: count desc, term asc -> x(4), y(3), then a/b tie at 2
    // -> 'a' wins the last slot alphabetically)
    val docs = Seq(
      (1L, "x x y a"), (2L, "x x y y b"), (3L, "a b z"), (4L, ""))
      .toDF("doc_id", "text")
    val got = TextAnalysis.vocabCoverage(docs, "text", "doc_id", 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((4L, 0L, 0L)))
    assert(got(2L) == ((5L, 1L, 200000L)))          // b is OOV
    assert(got(3L) == ((3L, 2L, 666666L)))          // b and z OOV
    assert(got(4L) == ((0L, 0L, 0L)))               // token-less doc surfaces
  }

  test("lengthBuckets: power-of-two assignment, clamping, waste arithmetic") {
    val toks = Seq(1L, 16L, 17L, 100L, 5000L).toDF("n_tokens")
    val got = Sampling.lengthBuckets(toks, "n_tokens")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(16L) == ((2L, 17L, 15L, 468750L)))   // 1 and 16; pad 15+0
    assert(got(32L) == ((1L, 17L, 15L, 468750L)))   // 17 -> 32
    assert(got(128L) == ((1L, 100L, 28L, 218750L)))
    assert(got(2048L) == ((1L, 5000L, 0L, 0L)))     // clamped: no padding
  }

  test("oovGateLiteral matches vocabCoverage and is row-local (streaming-safe)") {
    val docs = Seq((1L, "x x y a"), (2L, "x x y y b"), (3L, "a b z"), (4L, ""))
      .toDF("doc_id", "text")
    val vocab = TextAnalysis.vocabTopV(docs, "text", 3)
    assert(vocab == Seq("x", "y", "a")) // count desc, term asc at the tie
    val gate = TextAnalysis.oovGateLiteral(docs, "text", "doc_id", vocab, 300000L)
    val got = gate.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got(1L) == ((4L, 0L, 0L, true)))
    assert(got(2L) == ((5L, 1L, 200000L, true)))
    assert(got(3L) == ((3L, 2L, 666666L, false)))
    assert(got(4L) == ((0L, 0L, 0L, true)))
    // row-local contract: no aggregate or shuffle in the gate's plan
    val plan = gate.queryExecution.executedPlan.toString()
    assert(!plan.contains("Aggregate") &&
      !"(?<!\\w)Exchange(?!\\w)".r.findFirstIn(plan).isDefined,
      s"oovGateLiteral must stay row-local:\n$plan")
  }

  test("Compact.rewrite merges 16 files to 2 without changing a row") {
    val in = graft.io.Scratch.dir("spec_compact_in_")
    val out = graft.io.Scratch.dir("spec_compact_out_")
    val df = (1L to 100L).map(i => (i, s"row$i")).toDF("id", "s")
    df.repartition(16).write.mode("overwrite").parquet(in)
    assert(graft.io.Compact.dataFiles(in).size == 16)
    val back = graft.io.Compact.rewrite(spark, in, out, 2)
    assert(graft.io.Compact.dataFiles(out).size == 2)
    assert(back.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      (1L to 100L).map(i => (i, s"row$i")).toSet)
  }

  test("GroupRegression.fit: exact line recovered; zero-variance x -> nulls") {
    // group a: y = 3x + 7 exactly; group b: all x equal (den = 0)
    val pts = (0L to 10L).map(x => ("a", x, 3 * x + 7)) ++
      Seq(("b", 5L, 1L), ("b", 5L, 9L))
    val got = graft.operators.GroupRegression
      .fit(pts.toDF("g", "x", "y"), "g", "x", "y")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2)), Option(r.get(3))))).toMap
    assert(got("a")._1 == 11L)
    assert(got("a")._2.contains(3.0) && got("a")._3.contains(7.0))
    assert(got("b") == ((2L, None, None)))
  }

  test("Triangles.stats: K4 + star + chain, duplicate/reversed edges canonicalized") {
    // K4 on 1-4 (4 triangles, C(4,3)... K4 has 4 triangles), a 5-leaf star
    // on hub 10 (0 triangles, C(5,2)=10 wedges all open), a 3-chain 20-21-22
    // (1 open wedge), plus duplicate and reversed copies of K4 edges
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val star = (11L to 15L).map(l => (10L, l))
    val chain = Seq((20L, 21L), (21L, 22L))
    val edges = (k4 ++ star ++ chain ++ k4.map(_.swap) ++ k4)
      .toDF("a", "b")
    val r = graft.operators.Triangles.stats(edges, "a", "b").head()
    assert(r.getAs[Long]("n_nodes") == 4 + 6 + 3)
    assert(r.getAs[Long]("n_edges") == 6 + 5 + 2)
    assert(r.getAs[Long]("n_triangles") == 4)
    // oriented wedges: K4 contributes C(3,2)+C(2,2... = 3+1 = 4 (all of
    // which close); the star and the chain contribute ZERO — their edges
    // all point INTO the center, so no vertex has two out-neighbors. Every
    // triangle closes exactly one oriented wedge.
    assert(r.getAs[Long]("n_wedges") == 4)
    val hubWedges = graft.operators.Triangles
      .stats(star.toDF("a", "b"), "a", "b").head()
    assert(hubWedges.getAs[Long]("n_wedges") == 0) // degree orientation works
  }

  test("plan locks: projection is shuffle-free; vocab join broadcasts; OLS is one agg pair") {
    val sfDir = "/root/testdata/sf0.001"
    val shuffle = "(?<!\\w)Exchange(?!\\w)".r
    // RandomProjection.project alone: a pure row-local Project — NO
    // Exchange of any kind may appear between scan and projection
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val projPlan = RandomProjection.project(emb, "embedding", "proj", 16, 64)
      .queryExecution.executedPlan.toString()
    assert(shuffle.findFirstIn(projPlan).isEmpty &&
      !projPlan.contains("BroadcastExchange"),
      s"projection must be exchange-free:\n$projPlan")
    // vocabCoverage: the per-doc token join must be a BroadcastHashJoin
    // (vocab side broadcast), never a sort-merge join of the token stream
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val vcPlan = TextAnalysis.vocabCoverage(docs, "text", "doc_id", 20)
      .queryExecution.executedPlan.toString()
    assert(vcPlan.contains("BroadcastHashJoin") && !vcPlan.contains("SortMergeJoin"),
      s"vocabCoverage token join must broadcast the vocab:\n$vcPlan")
    // GroupRegression: one partial+final aggregate pair on the group key,
    // no Window, no join
    val olsPlan = graft.operators.GroupRegression
      .fit(docs.selectExpr("source AS g", "doc_id AS x", "n_chars AS y"), "g", "x", "y")
      .queryExecution.executedPlan.toString()
    assert(!olsPlan.contains("Window") && !olsPlan.contains("Join"),
      s"GroupRegression must be a single aggregate pass:\n$olsPlan")
    assert(shuffle.findAllIn(olsPlan).size <= 1,
      s"GroupRegression should shuffle once (group key):\n$olsPlan")
  }

  test("Triangles matches an O(n³) brute force on seeded random graphs") {
    val rnd = new scala.util.Random(7) // deterministic; no global RNG state
    for (trial <- 1 to 3) {
      val n = 12
      val edgeSet = (for {
        a <- 0L until n; b <- (a + 1) until n if rnd.nextDouble() < 0.35
      } yield (a, b)).toSet
      val brute = (for {
        a <- 0L until n; b <- (a + 1) until n; c <- (b + 1) until n
        if edgeSet((a, b)) && edgeSet((b, c)) && edgeSet((a, c))
      } yield 1).size
      val got = graft.operators.Triangles
        .stats(edgeSet.toSeq.toDF("a", "b"), "a", "b").head()
      assert(got.getAs[Long]("n_triangles") == brute, s"trial $trial")
      assert(got.getAs[Long]("n_edges") == edgeSet.size, s"trial $trial edges")
      // perNode: each node's count against its own brute force, and every
      // triangle counted once at each of its three corners
      val perNode = graft.operators.Triangles
        .perNode(edgeSet.toSeq.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      for (v <- perNode.keys) {
        val bruteV = (for {
          b <- 0L until n; c <- (b + 1) until n if b != v && c != v
          if Seq((v, b), (v, c), (b, c)).forall { case (x, y) =>
            edgeSet((math.min(x, y), math.max(x, y))) }
        } yield 1).size
        assert(perNode(v) == bruteV, s"trial $trial node $v")
      }
      assert(perNode.values.sum == 3L * got.getAs[Long]("n_triangles"), s"trial $trial Σ n_tri")
    }
  }

  test("epochPlan invariants on seeded random corpora: budget respected, prefix-closed") {
    val rnd = new scala.util.Random(11)
    val docs = (1L to 40L)
      .map(i => (i, s"s${i % 3}", 1L + rnd.nextInt(20).toLong))
      .toDF("doc_id", "source", "n_tokens")
    val quotas = Seq(("s0", 137L), ("s1", 55L), ("s2", 9L)).toDF("source", "quota")
    val rows = Sampling.epochPlan(docs, "doc_id", "source", "n_tokens", quotas)
      .select(col("source"), col("n_tokens"), col("cum_tokens"),
        col("full_epochs"), col("extra"), col("n_copies"))
      .collect()
    val bySource = rows.groupBy(_.getString(0))
    for ((src, rs) <- bySource) {
      val quota = Map("s0" -> 137L, "s1" -> 55L, "s2" -> 9L)(src)
      val total = rs.map(_.getLong(1)).sum
      val full = rs.head.getLong(3)
      assert(rs.forall(_.getLong(3) == full), s"$src: full_epochs not uniform")
      assert(full == quota / total, s"$src: full epochs")
      val planned = rs.map(r => r.getLong(5) * r.getLong(1)).sum
      assert(planned <= quota, s"$src: planned $planned over quota $quota")
      // prefix-closed: the admitted-extra docs are exactly those whose
      // cumulative count fits the remainder — no gaps in cum order
      val tail = quota % total
      rs.foreach { r =>
        assert(r.getBoolean(4) == (r.getLong(2) <= tail), s"$src tail rule")
      }
    }
  }

  test("containmentPairs: a strict subset scores 1000000 on its short side") {
    val shingled = Seq(
      (1L, "a b c"), (1L, "b c d"), (1L, "c d e"), (1L, "d e f"),
      (2L, "a b c"), (2L, "b c d"),             // subset of doc 1's set
      (3L, "x y z"), (3L, "a b c"))             // overlaps but not subset
      .toDF("doc_id", "shingle")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
    val got = graft.llm.Dedup.containmentPairs(shingled, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    // pair (1,2): inter 2, |A|=4, |B|=2 -> cont_a 500000, cont_b 1000000
    assert(got((1L, 2L)) == ((2L, 500000L, 1000000L, true)))
    // pair (1,3): inter 1, |A|=4, |B|=2 -> 250000 / 500000, not near-subset
    assert(got((1L, 3L)) == ((1L, 250000L, 500000L, false)))
  }

  test("groupDiversity: one-pass identity equals hand-computed pairwise means") {
    val emb = Seq(
      (1L, 0, Array(1.0f, 0.0f)), (2L, 0, Array(1.0f, 0.0f)),   // identical -> 1
      (3L, 1, Array(1.0f, 0.0f)), (4L, 1, Array(0.0f, 1.0f)),   // orthogonal -> 0
      (5L, 2, Array(1.0f, 0.0f)), (6L, 2, Array(-1.0f, 0.0f)),  // opposite -> -1
      (7L, 3, Array(5.0f, 5.0f)))                               // singleton -> null
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.groupDiversity(emb, "label")
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))).toMap
    assert(got(0) == ((2L, Some(1.0))))
    assert(got(1) == ((2L, Some(0.0))))
    assert(got(2) == ((2L, Some(-1.0))))
    assert(got(3) == ((1L, None)))
  }

  test("subsetPrune drops the contained side of a near-subset pair") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq(
      (1L, base),                                      // superset, survives
      (2L, base.split(" ").dropRight(1).mkString(" ")), // ~contained in 1 -> pruned
      (3L, "one two three four five six seven eight"))  // unrelated, survives
      .toDF("doc_id", "text")
    val got = Dedup.subsetPrune(docs, "text", "doc_id", 8, 4, 8L, 10L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == Map(1L -> true, 2L -> false, 3L -> true))
  }

  test("ngramNovelty: first-occurrence credit by min doc_id, short docs zero") {
    val docs = Seq(
      (1L, "a b c d e f"),     // grams: abcde, bcdef -> both owned by 1
      (2L, "a b c d e x"),     // abcde (owned by 1), bcdex (novel)
      (3L, "q r s"))           // too short for 5-grams
      .toDF("doc_id", "text")
    val got = Dedup.ngramNovelty(docs, "text", "doc_id", 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((2L, 2L, 1000000L)))
    assert(got(2L) == ((2L, 1L, 500000L)))
    assert(got(3L) == ((0L, 0L, 0L)))
  }
}
