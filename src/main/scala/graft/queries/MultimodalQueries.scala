package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.llm.{AllPairs, Bpe, CmsAgg, Curation, Dedup, Hll, Importance, Ivf, Multimodal, Pq, Quantize, RandomProjection, RollingHash, Sampling, SemDedup, SetJoin, Similarity, Sketch, TextAnalysis}
import graft.queries.LlmQueries._

/** binary-payload (image/audio/video) feature stages — split from the monolithic query registry
  * (round-8 maintainability); shared oracle-SQL helpers stay in the
  * origin object(s) (LlmQueries) with
  * package-private visibility. Same contract as every registry:
  * each `q<N>_<name>` query has a DuckDB `q<N>_sql` twin with identical
  * column names and deterministic ordering. */
object MultimodalQueries extends Registry {

  // ------------------------------------------------------------- multimodal
  /** Multimodal feature extraction: binary payload + metadata struct →
    * batched per-partition decode (stub codec) → (id, feature vector).
    * The registered query unrolls the feature array into scalar BIGINT
    * columns (every stub-decode feature is integral: byte length, head/tail
    * byte, checksum mod 997), so the driver can sort/hash the output AND the
    * stub decode becomes DuckDB-expressible over hex(encode(text)) — a full
    * oracle for the Spark-side plumbing. A real (non-stub) codec is opaque:
    * swap it in and drop back to the rows-only check.
    *
    * Payload-size assumption: features round-trip through the decoder's
    * Array[Float], so f0 (byte length) and f3 stay exact only for payloads
    * < 2^24 bytes (float's integer-exact range); the oracle computes exact
    * BIGINTs. Fine for the document corpus (texts are KBs); a deployment
    * with multi-MB media payloads should widen [[Multimodal.Decoder]] to
    * emit long/double features. */
  val q29_multimodal_features: Q = (s, d) => {
    val doc = Tables.widen(Tables.documents(s, d))
    val withPayload = Multimodal.withPayload(doc, "text", "doc_id")
    val feats = Multimodal.extractFeatures(withPayload, "doc_id", "payload")
    feats.select(col("id") +:
        (0 until 4).map(i => element_at(col("feature"), i + 1).cast("long").as(s"f$i")): _*)
      .orderBy(col("id"))
  }

  val q29_sql: String =
    """WITH b AS (SELECT doc_id, encode(text) AS p FROM documents)
      |SELECT doc_id AS id,
      |       octet_length(p)::BIGINT AS f0,
      |       CASE WHEN octet_length(p) = 0 THEN 0
      |            ELSE ('0x' || substr(hex(p), 1, 2))::BIGINT END AS f1,
      |       CASE WHEN octet_length(p) = 0 THEN 0
      |            ELSE ('0x' || substr(hex(p), octet_length(p) * 2 - 1, 2))::BIGINT END AS f2,
      |       CASE WHEN octet_length(p) = 0 THEN 0
      |            ELSE (list_sum(list_transform(range(1, octet_length(p) + 1),
      |                   i -> ('0x' || substr(hex(p), 2 * i - 1, 2))::BIGINT)) % 997)::BIGINT END AS f3
      |FROM b ORDER BY id""".stripMargin


  /** Video-shaped multimodal stage end to end: payload → stub resize to 64
    * bytes (truncate / zero-pad) → 3 contiguous-slice "frames" → per-frame
    * stub decode, all in ONE batched `mapPartitions`
    * ([[Multimodal.frameFeatures]]) — the k× fan-out happens executor-side.
    * Like q29, every stub feature is integral, so the whole
    * resize→sample→decode chain gets a full DuckDB oracle over
    * `hex(encode(text))`; a real codec is opaque → rows-only check. */
  val q78_frame_features: Q = (s, d) => {
    val doc = Tables.widen(Tables.documents(s, d))
    val withPayload = Multimodal.withPayload(doc, "text", "doc_id")
    Multimodal.frameFeatures(withPayload, "doc_id", "payload", k = 3, resizeTo = 64)
      .select(Seq(col("id"), col("frame_idx")) ++
        (0 until 4).map(i => element_at(col("feature"), i + 1).cast("long").as(s"f$i")): _*)
      .orderBy(col("id"), col("frame_idx"))
  }

  /** Frame j of k=3 over the 64-byte resized payload is bytes
    * [64j/3, 64(j+1)/3); zero padding contributes 0 to every feature, so
    * each frame's features reduce to expressions over the REAL byte prefix
    * (`least(n, 64)`), computed with the same hex technique as q29. */
  val q78_sql: String =
    """WITH b AS (SELECT doc_id, encode(text) AS p,
      |                  least(octet_length(encode(text)), 64) AS n
      |           FROM documents),
      |fr AS (SELECT doc_id, p, n, j, (64 * j) // 3 AS s, (64 * (j + 1)) // 3 AS e
      |       FROM b CROSS JOIN (SELECT unnest(range(0, 3)) AS j))
      |SELECT doc_id AS id, CAST(j AS BIGINT) AS frame_idx,
      |       (e - s)::BIGINT AS f0,
      |       CASE WHEN s < n THEN ('0x' || substr(hex(p), 2 * s + 1, 2))::BIGINT
      |            ELSE 0 END AS f1,
      |       CASE WHEN e - 1 < n THEN ('0x' || substr(hex(p), 2 * (e - 1) + 1, 2))::BIGINT
      |            ELSE 0 END AS f2,
      |       CASE WHEN least(n, e) > s
      |            THEN (list_sum(list_transform(range(s + 1, least(n, e) + 1),
      |                   i -> ('0x' || substr(hex(p), 2 * i - 1, 2))::BIGINT)) % 997)::BIGINT
      |            ELSE 0 END AS f3
      |FROM fr ORDER BY id, frame_idx""".stripMargin


  /** Image-style dHash fingerprints ([[Multimodal.dHash]], 56 gradient
    * bits over the 57-byte resized payload) summarized as a POPCOUNT
    * histogram plus the distinct-fingerprint count — the
    * collision-density profile an image-dedup pipeline checks before
    * trusting a hash band (a healthy corpus concentrates near 28 set
    * bits; spikes at 0/56 mean degenerate payloads). One mapPartitions
    * fingerprint pass (row-local), one map-side-combined histogram, one
    * distinct count; the oracle replays every hash bit from the payload
    * bytes (hex trick) so the fingerprints themselves are certified, not
    * just the counts. */
  val q250_image_dhash: Q = (s, d) => {
    val doc = Tables.widen(Tables.documents(s, d))
    val withPayload = Multimodal.withPayload(doc, "text", "doc_id")
    val hashes = Multimodal.dHash(withPayload, "doc_id", "payload",
        resizeTo = 57)
      .localCheckpoint(true) // consumers: histogram + distinct count
    val nd = hashes.agg(countDistinct(col("dhash")).as("n_distinct"))
    hashes.groupBy(col("popcnt")).agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(nd)) // bounded (≤57 rows) x 1
      .orderBy(col("popcnt"))
  }

  val q250_sql: String =
    """WITH b AS (SELECT doc_id, encode(text) AS p,
      |             octet_length(encode(text))::BIGINT AS n FROM documents),
      |bits AS (SELECT doc_id,
      |    list_sum(list_transform(range(1, 57), i -> CASE WHEN
      |      (CASE WHEN i <= n THEN ('0x' || substr(hex(p), 2*i-1, 2))::BIGINT ELSE 0 END) >
      |      (CASE WHEN i+1 <= n THEN ('0x' || substr(hex(p), 2*i+1, 2))::BIGINT ELSE 0 END)
      |      THEN 1::HUGEINT << (i - 1) ELSE 0 END)) AS dhash
      |  FROM b),
      |h AS (SELECT doc_id, CAST(coalesce(dhash, 0) AS BIGINT) AS dhash,
      |             CAST(coalesce(list_sum(list_transform(range(0, 56),
      |               k -> CASE WHEN (CAST(coalesce(dhash, 0) AS BIGINT) >> k) & 1 = 1
      |                    THEN 1 ELSE 0 END)), 0) AS BIGINT) AS popcnt
      |      FROM bits)
      |SELECT popcnt, count(*)::BIGINT AS n_docs,
      |       (SELECT count(DISTINCT dhash) FROM h)::BIGINT AS n_distinct
      |FROM h GROUP BY popcnt ORDER BY popcnt""".stripMargin


  /** The audio-shaped multimodal stage: fixed-16-byte window segmentation
    * with an integer ENERGY (Σ (byte−128)²) per window — the RMS-loudness
    * profile of an audio pipeline, run through
    * [[Multimodal.windowedEnergy]]'s batched `mapPartitions` (the real
    * plumbing: per-partition codec setup, executor-side fan-out, no
    * shuffle; only the PCM decode is the identity byte read — stubbed,
    * as the container has no audio codecs). `maxWindows = 8` caps the
    * head sample per payload. Every output is integer-exact, so the
    * byte-level hex oracle hash-matches the whole stage. */
  val q240_audio_energy: Q = (s, d) => {
    val doc = Tables.widen(Tables.documents(s, d))
    val withPayload = Multimodal.withPayload(doc, "text", "doc_id")
    Multimodal.windowedEnergy(withPayload, "doc_id", "payload",
        win = 16, maxWindows = 8)
      .orderBy(col("id"), col("win_idx"))
  }

  val q240_sql: String =
    """WITH b AS (SELECT doc_id, encode(text) AS p,
      |             octet_length(encode(text))::BIGINT AS n FROM documents),
      |w AS (SELECT doc_id, p, n, j, 16 * j AS s, least(16 * j + 16, n) AS e
      |      FROM b, (SELECT unnest(range(0, 8)) AS j)
      |      WHERE j < least((n + 15) // 16, 8))
      |SELECT doc_id AS id, j::BIGINT AS win_idx, (e - s)::BIGINT AS n_bytes,
      |       CAST(list_sum(list_transform(range(s + 1, e + 1),
      |         i -> (('0x' || substr(hex(p), 2 * i - 1, 2))::BIGINT - 128)
      |            * (('0x' || substr(hex(p), 2 * i - 1, 2))::BIGINT - 128)))
      |         AS BIGINT) AS energy
      |FROM w ORDER BY id, win_idx""".stripMargin


  /** Corpus-wide BYTE-CLASS histogram — [[Multimodal.byteClassCounts]]:
    * per payload, high-nibble class counts over the head 64 bytes (the
    * codec-free content-type profile), rolled up to ≤16 corpus rows by
    * one map-side-combined aggregate. The oracle replays the nibble read
    * directly off `hex(encode(text))` — the first hex char of a byte IS
    * its class — so the whole stage is hash-exact. */
  val q263_byte_classes: Q = (s, d) => {
    val doc = Tables.widen(Tables.documents(s, d))
    val withPayload = Multimodal.withPayload(doc, "text", "doc_id")
    Multimodal.byteClassCounts(withPayload, "doc_id", "payload", maxBytes = 64)
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("n_payloads"), sum(col("n")).as("n_bytes"))
      .orderBy(col("cls"))
  }

  val q263_sql: String =
    """WITH b AS (SELECT doc_id, encode(text) AS p FROM documents),
      |i AS (SELECT doc_id, p,
      |        unnest(range(1, least(octet_length(p), 64) + 1)) AS i
      |      FROM b),
      |x AS (SELECT doc_id,
      |        ('0x' || substr(hex(p), 2 * i - 1, 1))::BIGINT AS cls
      |      FROM i),
      |pc AS (SELECT cls, doc_id, count(*)::BIGINT AS n FROM x GROUP BY 1, 2)
      |SELECT cls, count(*)::BIGINT AS n_payloads, sum(n)::BIGINT AS n_bytes
      |FROM pc GROUP BY 1 ORDER BY 1""".stripMargin

  /** IMAGE NEAR-DUP CANDIDATES over the 56-bit dHash fingerprints (q250's
    * stage): 7 bands of 8 bits — two fingerprints within Hamming distance
    * 7 are guaranteed to agree on ≥ 1 whole band (pigeonhole), so the
    * band-bucket self-join finds every such pair without an all-pairs
    * scan; survivors are verified by the EXACT Hamming distance
    * (bit_count of xor) and kept at ≤ 8. The image-dedup counterpart of
    * text LSH: candidate generation is bucket-local (cap 1000 — the
    * degenerate-payload guard), fingerprints attach back by two keyed
    * joins, and every bit is replayed from payload bytes in the oracle,
    * so the pair list is hash-exact, not approximate. */
  val q297_dhash_neardup: Q = (s, d) => {
    val doc = Tables.widen(Tables.documents(s, d))
    val hashes = Multimodal.dHash(Multimodal.withPayload(doc, "text", "doc_id"),
        "doc_id", "payload", resizeTo = 57)
      .select(col("id").as("doc_id"), col("dhash"))
      .localCheckpoint(true) // consumers: band buckets + two hash attaches
    val bandCols = (0 until 7).map(b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("dhash"), 8 * b).bitwiseAND(lit(255L)).as("bkey")))
    val buckets = hashes
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
      .withColumn("__bsz", count(lit(1)).over(
        Window.partitionBy(col("band"), col("bkey"))))
      .where(col("__bsz") <= 1000)
      .drop("__bsz")
    val pairs = buckets
      .select(col("band"), col("bkey"), col("doc_id").as("doc_a"))
      .join(buckets.select(col("band"), col("bkey"), col("doc_id").as("doc_b")),
        Seq("band", "bkey"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    pairs
      .join(hashes.select(col("doc_id").as("doc_a"), col("dhash").as("ha")), Seq("doc_a"))
      .join(hashes.select(col("doc_id").as("doc_b"), col("dhash").as("hb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(ha ^ hb)").cast("long").as("hamming"))
      .where(col("hamming") <= 8)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val q297_sql: String =
    """WITH b AS (SELECT doc_id, encode(text) AS p,
      |             octet_length(encode(text))::BIGINT AS n FROM documents),
      |bits AS (SELECT doc_id,
      |    list_sum(list_transform(range(1, 57), i -> CASE WHEN
      |      (CASE WHEN i <= n THEN ('0x' || substr(hex(p), 2*i-1, 2))::BIGINT ELSE 0 END) >
      |      (CASE WHEN i+1 <= n THEN ('0x' || substr(hex(p), 2*i+1, 2))::BIGINT ELSE 0 END)
      |      THEN 1::HUGEINT << (i - 1) ELSE 0 END)) AS dhash
      |  FROM b),
      |h AS (SELECT doc_id, CAST(coalesce(dhash, 0) AS BIGINT) AS dhash FROM bits),
      |bands AS (SELECT doc_id, band, (dhash >> (8 * band)) & 255 AS bkey
      |          FROM h, (SELECT unnest(range(0, 7)) AS band)),
      |bk AS (SELECT doc_id, band, bkey FROM (
      |         SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bsz FROM bands)
      |       WHERE bsz <= 1000),
      |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |          FROM bk a JOIN bk b
      |            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
      |SELECT p.doc_a, p.doc_b,
      |       bit_count(xor(ha.dhash, hb.dhash))::BIGINT AS hamming
      |FROM pairs p JOIN h ha ON ha.doc_id = p.doc_a
      |             JOIN h hb ON hb.doc_id = p.doc_b
      |WHERE bit_count(xor(ha.dhash, hb.dhash)) <= 8
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---- q406: payload byte-entropy census ----------------------------------

  /** Byte-entropy census per byte CLASS (high nibble) over the payload
    * heads — the compressibility/content-type audit a media ingest runs
    * codec-free: text-range classes (0x2–0x7) show low per-byte entropy
    * (few distinct values, skewed counts), compressed/encrypted payloads
    * near-uniform high. Arithmetic is the house xlx convention
    * ([[graft.functions.Ilog2]], fp-16 log units): the entropy NUMERATOR
    * H·T = T·ilog2(T) − Σ_v c_v·ilog2(c_v) stays integral (every count
    * ≥ 1, so no 0·log 0 guard is even needed), and bits_per_byte_fp16 =
    * h_xlx div T floors once at the readout (≤ 8·65536 by construction).
    * Products route through DECIMAL(38,0)/HUGEINT — c·ilog2(c) exceeds
    * BIGINT near 10¹³ bytes per class. Shapes: the per-payload 256-cell
    * histograms fan out executor-side ([[Multimodal.byteValueCounts]]'s
    * mapPartitions batch), the corpus reduces to ≤ 256 (cls, v) rows in
    * one map-side-combinable pass, and the readout is ≤ 16 rows of grid
    * algebra. The oracle replays every byte off `hex(encode(text))` and
    * every log via the shift-and-square fold — hash-exact. */
  val q406_payload_entropy: Q = (s, d) =>
    payloadEntropy(Tables.widen(Tables.documents(s, d)))

  /** Core over the raw (doc_id, text) frame — fuzz/stress entry point. */
  def payloadEntropy(doc: DataFrame): DataFrame = {
    import graft.functions.Ilog2
    val dec = "decimal(38,0)"
    val withPayload = Multimodal.withPayload(doc, "text", "doc_id")
    val vals = Multimodal.byteValueCounts(withPayload, "doc_id", "payload",
        maxBytes = 64)
      .groupBy(expr("v div 16").as("cls"), col("v"))
      .agg(sum(col("n")).as("c"))
    vals.groupBy(col("cls"))
      .agg(sum(col("c")).as("n_bytes"), count(lit(1)).as("n_values"),
        sum(col("c").cast(dec) * Ilog2.ilog2(col("c"))).as("__sx"))
      .select(col("cls"), col("n_bytes"), col("n_values"),
        (col("n_bytes").cast(dec) * Ilog2.ilog2(col("n_bytes")) - col("__sx"))
          .as("__h"))
      .select(col("cls"), col("n_bytes"), col("n_values"),
        col("__h").cast("long").as("h_xlx"),
        expr("cast(__h div n_bytes as bigint)").as("bits_per_byte_fp16"))
      .orderBy(col("cls"))
  }
  val q406_sql: String = {
    val il = graft.functions.Ilog2.sqlReplay _
    s"""WITH b AS (SELECT doc_id, encode(text) AS p FROM documents),
       |i AS (SELECT doc_id, p,
       |        unnest(range(1, least(octet_length(p), 64) + 1)) AS i
       |      FROM b),
       |x AS (SELECT ('0x' || substr(hex(p), 2 * i - 1, 2))::BIGINT AS v
       |      FROM i),
       |vc AS (SELECT v // 16 AS cls, v, count(*)::BIGINT AS c
       |       FROM x GROUP BY 1, 2),
       |cg AS (SELECT cls, sum(c)::BIGINT AS n_bytes,
       |         count(*)::BIGINT AS n_values,
       |         sum(c::HUGEINT * ${il("c")}) AS sx
       |       FROM vc GROUP BY 1)
       |SELECT cls, n_bytes, n_values,
       |  (n_bytes::HUGEINT * ${il("n_bytes")} - sx)::BIGINT AS h_xlx,
       |  ((n_bytes::HUGEINT * ${il("n_bytes")} - sx) // n_bytes)::BIGINT
       |    AS bits_per_byte_fp16
       |FROM cg ORDER BY cls""".stripMargin
  }
}
