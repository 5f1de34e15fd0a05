package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{StagedFrame, Tables}
import graft.llm.Dedup
import graft.queries.LlmQueries.{LshK, LshBands}

/** Shared staged MinHash-LSH pipeline over the `documents` table — the
  * [[CoPurchase]] discipline applied to the text-dedup family.
  *
  * Fourteen queries consume the SAME (LshK=8, LshBands=4) pipeline —
  * shingles (q24/q179/q209/q294), signatures (q294), candidate pairs
  * (q23/q61/q91/q154/q176/q177/q190/q195/q206/q211) — and each
  * previously re-ran shingle explode → k md5 min-aggregates → band
  * self-join from the raw corpus scan. Each stage is now built ONCE per
  * sfDir, staged to scratch parquet ([[graft.io.Scratch]],
  * RAM-backed when /dev/shm exists), and re-read by every consumer; the
  * stages chain (signatures build from staged shingles, pairs from
  * staged signatures), so the whole pipeline executes exactly once per
  * bench/verify session.
  *
  * Correctness is untouched: every consumer's DuckDB oracle still derives
  * the pipeline from `documents` via the generated `lshCtes` — the memo
  * produces the identical rows, it only changes where the cost is paid.
  */
private[queries] object DocLsh {

  /** Distinct (doc_id, 3-token shingle) — [[Dedup.docShingles]]. */
  def shingles(s: SparkSession, d: String): DataFrame =
    StagedFrame.memo(s, d, "doclsh_shingles")(
      Dedup.docShingles(Tables.documents(s, d), "text", "doc_id"))

  /** k=8 MinHash signatures (doc_id, h0..h7) from the staged shingles. */
  def signatures(s: SparkSession, d: String): DataFrame =
    StagedFrame.memo(s, d, "doclsh_sig")(Dedup.minhashSignatures(shingles(s, d), LshK))

  /** Distinct LSH candidate pairs (doc_a < doc_b) at 4 bands of 2 rows,
    * bucket cap 1000, from the staged signatures. */
  def pairs(s: SparkSession, d: String): DataFrame =
    StagedFrame.memo(s, d, "doclsh_pairs")(
      Dedup.lshCandidatePairs(signatures(s, d), LshBands, LshK / LshBands))

  /** SimHash fingerprints (doc_id, simhash) at `bits` — one staged build
    * per width, fanned into every banding/probing variant (q25/q31 at 32
    * bits; q90/q142/q145 at 64). */
  def simhashFp(s: SparkSession, d: String, bits: Int): DataFrame =
    StagedFrame.memo(s, d, s"doclsh_simhash$bits")(
      Dedup.simhash(Tables.documents(s, d), "text", "doc_id", bits))

  /** (band, bkey) of LSH buckets whose FINAL size exceeds `cap`, banded
    * from the staged signatures — the batch post-filter side of the
    * q123/q394 streaming certs. The concat(h…) keys are byte-identical to
    * the streaming `bandBuckets` md5 keys (`LshStreamSpec` pins the
    * parity at both pair and key level), so this replaces a second full
    * shingle→8-hash corpus pass per cert invocation with a row-filter
    * over the staged table. */
  def oversizedLshBuckets(s: SparkSession, d: String, cap: Int): DataFrame = {
    val rpb = LshK / LshBands
    val bandCols = (0 until LshBands).map { b =>
      struct(lit(b).as("band"),
        concat((0 until rpb).map(r => col(s"h${b * rpb + r}")): _*).as("bkey"))
    }
    signatures(s, d)
      .select(explode(array(bandCols: _*)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.bkey").as("bkey"))
      .groupBy(col("band"), col("bkey")).agg(count(lit(1)).as("n"))
      .where(col("n") > cap)
      .select(col("band"), col("bkey"))
  }

  /** The staged 64-bit fingerprints row-filtered to the HALF corpus
    * (doc_id % 2 = 0) the q146/q395 SimHash certs run over. A document's
    * SimHash depends only on its own tokens (the same subset-vs-whole
    * invariance as the staged MinHash signatures in q135/q138), so the
    * filter of the full-corpus staged frame IS the half-corpus build. */
  def simhashFpHalf(s: SparkSession, d: String): DataFrame =
    simhashFp(s, d, 64).where(col("doc_id") % 2 === 0)

  /** (band, bkey, doc_id) band keys derived ROW-LOCALLY from a
    * (doc_id, simhash) frame — shift/mask per band, bkey rendered as the
    * decimal string the streaming `BandBucket` rows carry. Replaces a full
    * per-doc tokenize+vote pass in the cert post-filters: the key value is
    * a pure function of the fingerprint, and `SimhashStreamSpec` pins the
    * row-local-vs-aggregate fingerprint parity. */
  def simhashBandKeys(fp: DataFrame, bits: Int, bandBits: Int): DataFrame = {
    require(bits % bandBits == 0, "bandBits must divide bits")
    val bandCols = (0 until bits / bandBits).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * bandBits)
          .bitwiseAND(lit((1L << bandBits) - 1)).cast("string").as("bkey"))
    }
    fp.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.bkey").as("bkey"),
        col("doc_id"))
  }
}
