package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.functions.FixMojibake
import graft.model.Model
import graft.operators.Skew

class FixMojibakeSpec extends SparkSpec {
  import spark.implicits._

  test("native expression matches the UDF implementation, null → \"\"") {
    val df = Seq(Some("Â£51.77"), Some("aâ€™b"), Some("x ...more"), None).toDF("s")
    val out = df.select(FixMojibake.fixMojibakeNative($"s").as("v"))
      .collect().map(_.getString(0))
    assert(out.toSeq == Seq("£51.77", "a’b", "x", ""))
  }

  test("fix_mojibake is SQL-visible after registration") {
    FixMojibake.register(spark)
    Seq("Â£9.99").toDF("s").createOrReplaceTempView("moji")
    val out = spark.sql("SELECT fix_mojibake(s) AS v FROM moji").collect().head.getString(0)
    assert(out == "£9.99")
  }

  test("native expression survives codegen over a larger column batch") {
    val out = spark.range(1000).select(
        FixMojibake.fixMojibakeNative(concat(lit("Â£"), col("id").cast("string"))).as("v"))
      .where($"v" === "£999").count()
    assert(out == 1)
  }
}

class NfcNormalizeSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.NfcNormalize

  test("composes combining marks, idempotent, null-in null-out, ASCII no-op") {
    val decomposed = "cafe\u0301"   // e + COMBINING ACUTE ACCENT
    val composed = "caf\u00e9"      // precomposed \u00e9
    val df = Seq(Some(decomposed), Some(composed), Some("plain ascii"), None).toDF("s")
    val out = df.select(NfcNormalize.nfcNative($"s").as("v"))
      .collect().map(r => Option(r.getString(0)))
    assert(out(0).get == composed)   // composed by NFC
    assert(out(1).get == composed)   // already NFC: unchanged
    assert(out(2).get == "plain ascii")
    assert(out(3).isEmpty)           // null propagates
    // idempotent
    val twice = df.where($"s".isNotNull)
      .select(NfcNormalize.nfcNative(NfcNormalize.nfcNative($"s")).as("v"))
      .collect().map(_.getString(0))
    assert(twice.toSeq == out.flatten.toSeq)
  }

  test("agrees with java.text.Normalizer over codegen on a larger batch") {
    val out = spark.range(500)
      .select(NfcNormalize.nfcNative(
        concat(lit("x\u0301"), col("id").cast("string"))).as("v"))
      .collect().map(_.getString(0))
    out.zipWithIndex.foreach { case (v, i) =>
      assert(v == java.text.Normalizer.normalize("x\u0301" + i,
        java.text.Normalizer.Form.NFC))
    }
  }
}

class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin equals the plain join result on a hot-key distribution") {
    // 10k rows, 95% on one hot key
    val big = spark.range(10000)
      .select(when($"id" % 20 =!= 0, "hot").otherwise(concat(lit("k"), $"id")).as("k"),
        $"id".as("v"))
    val small = big.select($"k").distinct().withColumn("attr", length($"k"))
    val plain = big.join(small, Seq("k")).agg(count(lit(1)), sum($"attr"), sum($"v")).collect().head
    val salted = Skew.saltedJoin(big, small, Seq("k"), buckets = 8)
      .agg(count(lit(1)), sum($"attr"), sum($"v")).collect().head
    assert(plain == salted)
  }

  test("saltedAgg equals a direct groupBy aggregate") {
    val df = spark.range(5000)
      .select(when($"id" % 10 =!= 0, "hot").otherwise("cold").as("k"), $"id".as("v"))
    val direct = df.groupBy($"k").agg(sum($"v").as("s"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val salted = Skew.saltedAgg(df, Seq("k"), 8,
        partial = Seq(sum($"v").as("ps"), count(lit(1)).as("pn")),
        merge = Seq(sum($"ps").as("s"), sum($"pn").as("n")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(direct == salted)
  }
}

class QualitySpec extends SparkSpec {
  import graft.operators.Quality
  import spark.implicits._

  test("runWithMetrics observes row and null counts during the action") {
    val df = Seq(Some(1), None, Some(3), None, Some(5)).toDF("k")
    val (n, metrics) = Quality.runWithMetrics(df, "k")(_.count())
    assert(n == 5L)
    assert(metrics("n_rows") == 5L && metrics("n_null_keys") == 2L)
  }

  test("requireQuality passes within budget and fails beyond it") {
    val df = Seq(Some(1), None, Some(3), Some(4)).toDF("k")
    Quality.requireQuality(df, "k", maxNullFraction = 0.5) // 25% nulls: ok
    intercept[IllegalArgumentException] {
      Quality.requireQuality(df, "k", maxNullFraction = 0.1)
    }
    intercept[IllegalArgumentException] {
      Quality.requireQuality(df.limit(0), "k") // empty dataset
    }
  }
}

class AsOfJoinSpec extends SparkSpec {
  import graft.operators.AsOfJoin
  import java.sql.Timestamp
  import spark.implicits._

  private def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")

  private lazy val quotes = Seq(
    (1L, ts(0), 100.0), (1L, ts(10), 101.0), (1L, ts(20), 102.0),
    (2L, ts(5), 50.0)).toDF("sym", "qts", "price")
  private lazy val trades = Seq(
    (1L, ts(5), "t1"), (1L, ts(10), "t2"), (1L, ts(25), "t3"),
    (2L, ts(1), "t4"), (3L, ts(9), "t5")).toDF("sym", "tts", "trade_id")

  test("asOf picks the latest right row at-or-before each left ts") {
    val out = AsOfJoin.asOf(trades, quotes, Seq("sym"), "tts", "qts", Seq("price"))
      .collect().map(r => r.getAs[String]("trade_id") -> r.getAs[Double]("price")).toMap
    assert(out == Map("t1" -> 100.0, "t2" -> 101.0, "t3" -> 102.0))
    // t4 precedes every quote for sym 2; t5 has no quotes at all → dropped
  }

  test("asOf inner=false keeps unmatched left rows with nulls") {
    val out = AsOfJoin.asOf(trades, quotes, Seq("sym"), "tts", "qts", Seq("price"),
        inner = false)
      .collect().map(r => r.getAs[String]("trade_id") -> Option(r.get(r.fieldIndex("price"))))
      .toMap
    assert(out.size == 5)
    assert(out("t4").isEmpty && out("t5").isEmpty)
    assert(out("t2").contains(101.0)) // equal-ts tie is inclusive
  }

  test("asOf forward picks the nearest following right row, ties inclusive") {
    val out = AsOfJoin.asOf(trades, quotes, Seq("sym"), "tts", "qts", Seq("price"),
        forward = true)
      .collect().map(r => r.getAs[String]("trade_id") -> r.getAs[Double]("price")).toMap
    // t1(05:00)→quote 10:00=101; t2(10:00)→equal-ts quote 101 (inclusive);
    // t3(25:00) has no later quote → dropped; t4(01:00)→sym-2 quote 50;
    // t5: sym 3 has no quotes → dropped
    assert(out == Map("t1" -> 101.0, "t2" -> 101.0, "t4" -> 50.0))
  }
}

/** The SQL-only user's path: a session built with NOTHING but
  * `spark.sql.extensions=graft.functions.GraftExtensions` must expose the
  * engine's native functions to `spark.sql` — no Scala imports, no
  * per-function register calls. `spark.sql.extensions` is STATIC config
  * (read when the SparkContext is built), so the shared test session can
  * never exercise it — the test forks a fresh JVM running
  * [[ExtensionsProbe]], the same deployment shape as
  * `spark-submit --conf spark.sql.extensions=...`. */
class ExtensionsSpec extends SparkSpec {
  test("a fresh JVM with only the spark.sql.extensions config runs every native function in SQL") {
    val (code, out) = ForkedJvm.run("graft.ExtensionsProbe")
    assert(code == 0 && out.contains("PROBE_OK"),
      s"extensions probe failed (exit $code):\n${out.takeRight(4000)}")
  }
}

class DedupStreamSpec extends SparkSpec {
  import graft.streaming.Streaming
  import java.sql.Timestamp

  test("dedupStream drops re-deliveries within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Streaming.Event]
    def ev(id: Long, min: Int) = Streaming.Event(id, Timestamp.valueOf(f"2024-01-01 10:$min%02d:00"), 1, "a", 1.0)
    mem.addData(ev(1, 0), ev(2, 1), ev(1, 2), ev(2, 3), ev(3, 4))
    val q = Streaming.dedupStream(mem.toDF(), Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val ids = spark.table("dedup_out").collect().map(_.getAs[Long]("event_id")).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L))
  }
}

class LshStreamSpec extends SparkSpec {
  import graft.llm.Dedup
  import graft.streaming.Streaming

  test("bandBuckets (stateless) produces the same candidate pairs as the batch self-join") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox jumps over the sleepy dog"),
      (4L, "completely different content about spark engines again")).toDF("doc_id", "text")
    val batch = Dedup.dedupNearMinhash(docs, "text", "doc_id", 8, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bb = Dedup.bandBuckets(docs, "text", "doc_id", 8, 4)
    val viaBuckets = bb.as("l").join(bb.as("r"), Seq("band", "bkey"))
      .where(col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaBuckets == batch)
    assert(batch.contains((1L, 2L))) // the exact dups definitely meet
  }

  test("bandBuckets keys are byte-identical to the batch signature concat banding") {
    // the q123/q394 post-filters anti-join streamed (band, bkey) rows
    // against keys banded from the staged SIGNATURE table, so parity must
    // hold at KEY level, not just pair level (round-15 advice item)
    val docs = graft.io.Tables.documents(spark, "/root/testdata/sf0.001")
    val k = 8
    val bands = 4
    val rpb = k / bands
    val streamKeys = Dedup.bandBuckets(docs, "text", "doc_id", k, bands)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat((0 until rpb).map(r => col(s"h${b * rpb + r}")): _*).as("bkey"))
    }
    val batchKeys = Dedup
      .minhashSignatures(Dedup.docShingles(docs, "text", "doc_id"), k)
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("bk.band"), col("bk.bkey"), col("doc_id"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(streamKeys == batchKeys)
    assert(streamKeys.nonEmpty)
  }

  test("simhashBandBuckets: row-local fingerprints byte-identical to the batch aggregate") {
    val corpus = graft.io.Tables.documents(spark, "/root/testdata/sf0.001")
    def batchBuckets(bits: Int, bandBits: Int) = {
      val nBands = bits / bandBits
      val mask = (1L << bandBits) - 1
      graft.llm.Dedup.simhash(corpus, "text", "doc_id", bits)
        .select(col("doc_id"), explode(array((0 until nBands).map(b =>
            struct(lit(b).as("band"),
              shiftright(col("simhash"), b * bandBits).bitwiseAND(lit(mask))
                .cast("string").as("bkey"))): _*)).as("bk"))
        .select(col("bk.band"), col("bk.bkey"), col("doc_id"))
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    }
    def localBuckets(bits: Int, bandBits: Int) =
      graft.llm.Dedup.simhashBandBuckets(corpus, "text", "doc_id", bits, bandBits)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(localBuckets(32, 8) == batchBuckets(32, 8))
    // 64-bit exercises the 16-hex vote prefix and the bit-63 sign path
    assert(localBuckets(64, 16) == batchBuckets(64, 16))
  }

  test("lshCandidateStream pairs arrivals across micro-batch boundaries exactly once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[graft.llm.BandBucket]
    // batch 1: docs 1,2 share bucket X; batch 2: doc 3 joins X (and 1 is
    // re-delivered - must not re-pair), doc 4 lands alone in Y
    mem.addData(graft.llm.BandBucket(0, "X", 1L), graft.llm.BandBucket(0, "X", 2L))
    mem.addData(graft.llm.BandBucket(0, "X", 3L), graft.llm.BandBucket(0, "X", 1L),
      graft.llm.BandBucket(1, "Y", 4L))
    val q = Streaming.lshCandidateStream(mem.toDS())
      .writeStream.format("memory").queryName("lsh_pairs_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val pairs = spark.table("lsh_pairs_out").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).sorted
    assert(pairs.toSeq == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
  }
}

class BooksPruningSpec extends SparkSpec {
  test("DSv2 source prunes unprojected columns down to the reader") {
    val dir = java.nio.file.Files.createTempDirectory("books_prune")
    val html = Fixtures.detailPage("P", "Cat", "One", "£1.00", "In stock (1 available)", true)
    java.nio.file.Files.write(dir.resolve("b.html"), html.getBytes("UTF-8"))
    val df = spark.read.format("graft.sources.BooksDataSource")
      .option("path", dir.toString).load()
      .select("Title", "Rating")
    // physical scan schema carries only the projected fields
    val scan = df.queryExecution.executedPlan.collectLeaves().head
    assert(scan.schema.fieldNames.toSeq == Seq("Title", "Rating"))
    val r = df.collect().head
    assert(r.getString(0) == "P" && r.getInt(1) == 1)
  }

  test("DSv2 source pushes LIMIT down to the file listing") {
    val dir = java.nio.file.Files.createTempDirectory("books_limit")
    (1 to 10).foreach { i =>
      val html = Fixtures.detailPage(s"P$i", "Cat", "One", "£1.00",
        "In stock (1 available)", true)
      java.nio.file.Files.write(dir.resolve(f"b$i%02d.html"), html.getBytes("UTF-8"))
    }
    val df = spark.read.format("graft.sources.BooksDataSource")
      .option("path", dir.toString).option("filesPerPartition", "2")
      .load().limit(5)
    // complete push: the scan itself returns exactly 5 rows from the 5
    // lexicographically-first files, planned as ceil(5/2) partitions
    val scanExec = df.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.get
    assert(scanExec.scan.description().contains("limit=5"))
    assert(scanExec.inputPartitions.length == 3)
    val titles = df.select("Title").collect().map(_.getString(0)).toSet
    assert(titles == (1 to 5).map(i => s"P$i").toSet)
  }
}

class MicroBatchSpec extends SparkSpec {

  test("foreachBatch micro-batch runs the transform over arriving CSV files") {
    import graft.streaming.Streaming
    val srcDir = Files.createTempDirectory("mb_src").toString
    val ckpt = Files.createTempDirectory("mb_ckpt").toString
    import spark.implicits._
    val raw = Seq(Model.Book("T1", "d", "Cat", "i", true, 7, 4,
      "u", "books", "£2.00", "£2.00", "£0.00", "1")).toDF()
    graft.io.BooksCsv.write(raw, srcDir + "/batch1")

    @volatile var seen = 0L
    val q = Streaming.microBatch(spark, srcDir + "/*", Model.rawBooksSchema,
      batch => graft.transform.Transform.derive(graft.transform.Transform.clean(batch)),
      (out, _) => seen += out.count(),
      ckpt)
    q.awaitTermination(60000)
    assert(seen == 1L)
  }
}
