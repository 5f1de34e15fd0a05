package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.llm.{AllPairs, Dedup, NaiveBayes, RandomProjection, SetJoin, TextAnalysis}

/** THE scale-stress tool — one parameterized harness for every 100×
  * disjoint-replica certification, replacing the nine one-off
  * `ScaleStress*` mains that each carried their own copy of the session
  * builder, the stage timer, the replica/stride construction, and the
  * growth-band summary (the round-9 verdict traced a stride fix that had
  * to be applied twice to exactly that duplication).
  *
  * Usage: `Test/runMain graft.tools.ScaleStress <family...> [--sf=<dir>]`.
  * Families: `similarity` (SCALESTRESS_r6 — LSH / SimHash / multiprobe /
  * all-pairs / ppjoin candidate growth + graph ops at 100×), `graph`
  * (r8 — common-neighbor shortlist, oriented wedges, dangling PageRank),
  * `text` (r8b — winnowing, weighted MinHash, NB throughput, Ilog2
  * entropy), `info` (r9 — χ² contingency grid, Holt–Winters keys),
  * `ks-textrank` (r9b), `auc-snm` (r9c), `km-ab` (r9d), `vector-curation`
  (r10), `eval` (r10b), `agreement` (r10c), `resampling` (r11),
  * `privacy` (r11b).
  *
  * Methodology (shared by every family): replicas must be DISJOINT —
  * numeric ids shifted by a stride DERIVED FROM THE DATA (`max(id) + 1`;
  * a fixed stride collides once ids reach it and silently merges
  * replicas), text vocabularies suffixed per replica so document
  * frequencies keep their per-replica shape instead of inflating 100×.
  * Exact structural quantities assert the tight [95, 105] band;
  * LSH-family candidate counts are hash-variance-dominated (which docs
  * collide into which band buckets is a per-replica draw, and
  * near-maxBucket buckets contribute O(cap²) pairs or zero depending on
  * which side of the cap the draw lands) and get the [50, 200] band — a
  * broken guard (all-pairs fallback) lands at ~10 000×, far outside
  * either. Each family emits one JSON line per stage and one summary
  * line, byte-compatible with its committed `SCALESTRESS_*.json`
  * artifact.
  */
object ScaleStress {

  private[tools] val Reps = 100

  // ------------------------------------------------------ shared harness

  private[tools] final class Emitter {
    val out = new StringBuilder
    def line(l: String): Unit = { println(l); out.append(l).append('\n') }
    def stage(name: String)(f: => Long): Long = {
      val t0 = System.nanoTime()
      val n = f
      line(s"""{"stage":"$name","sec":${(System.nanoTime() - t0) / 1e9},"rows":$n}""")
      n
    }
  }

  /** Disjoint numeric-id replication: `id + r * stride` with the stride
    * derived from the data so replicas stay disjoint at ANY scale factor.
    * `cols` are carried through unchanged. */
  private[tools] def strideReplica(spark: SparkSession, df: DataFrame, idCol: String,
                            reps: Int, cols: Seq[String]): DataFrame = {
    val stride = df.agg(max(col(idCol))).collect()(0).getLong(0) + 1L
    df.crossJoin(broadcast(spark.range(reps).select(col("id").as("__r"))))
      .select((col(idCol) + col("__r") * stride).as(idCol) +: cols.map(col): _*)
      .localCheckpoint(true)
  }

  /** Disjoint-vocabulary text replication: ids strided by the base count,
    * every token suffixed `r<replica>` (per-replica document frequencies
    * keep their original values — the shape of a real 100× corpus), and
    * any extra string key columns suffixed the same way. `df` must carry
    * a `rep` column (lit(0) for the baseline). */
  private[tools] def tokenReplica(df: DataFrame, baseN: Long,
                           suffixCols: Seq[String]): DataFrame = df.select(
    (col("rep") * baseN + col("doc_id")).as("doc_id") +:
      regexp_replace(col("text"), lit("(\\w+)"),
        concat(lit("$1r"), col("rep"))).as("text") +:
      suffixCols.map(c => concat(col(c), lit("r"), col("rep")).as(c)): _*)

  private[tools] def ratio3(x1: Long, x100: Long): Double =
    math.round(1000.0 * x100 / x1) / 1000.0

  // ---------------------------------------------------------- families

  private[tools] type Family = (SparkSession, String, Emitter) => Unit

  private val families: Map[String, (Family, String)] = Map(
    "lexical" -> ((StressLexicalFamilies.lexical, "/root/testdata/sf0.01")),
    "hypothesis" -> ((StressInferenceFamilies.hypothesis, "/root/testdata/sf0.1")),
    "experiment" -> ((StressInferenceFamilies.experiment, "/root/testdata/sf0.1")),
    "privacy" -> ((StressInferenceFamilies.privacy, "/root/testdata/sf0.1")),
    "resampling" -> ((StressInferenceFamilies.resampling, "/root/testdata/sf0.1")),
    "agreement" -> ((StressStatsFamilies.agreement, "/root/testdata/sf0.1")),
    "eval" -> ((StressStatsFamilies.evalStats, "/root/testdata/sf0.1")),
    "vector-curation" -> ((StressFrameFamilies.vectorCuration, "/root/testdata/sf0.1")),
    "similarity" -> ((StressCoreFamilies.similarity, "/root/testdata/sf0.1")),
    "graph" -> ((StressCoreFamilies.graph, "/root/testdata/sf0.01")),
    "text" -> ((StressCoreFamilies.text, "/root/testdata/sf0.1")),
    "info" -> ((StressCoreFamilies.info, "/root/testdata/sf0.1")),
    "ks-textrank" -> ((StressFrameFamilies.ksTextrank, "/root/testdata/sf0.1")),
    "auc-snm" -> ((StressFrameFamilies.aucSnm, "/root/testdata/sf0.1")),
    "km-ab" -> ((StressFrameFamilies.kmAb, "/root/testdata/sf0.1")),
    "cluster-quality" -> ((StressFrameFamilies.clusterQuality, "/root/testdata/sf0.1")),
    "round14" -> ((StressRound14Families.round14, "/root/testdata/sf0.1")))

  def main(args: Array[String]): Unit = {
    val (flags, names) = args.partition(_.startsWith("--"))
    val sfOverride = flags.collectFirst {
      case f if f.startsWith("--sf=") => f.stripPrefix("--sf=") }
    val picked = if (names.isEmpty) families.keys.toSeq.sorted else names.toSeq
    val unknown = picked.filterNot(families.contains)
    require(unknown.isEmpty,
      s"unknown families: ${unknown.mkString(", ")} — " +
        s"known: ${families.keys.toSeq.sorted.mkString(", ")}")
    val spark = graft.Session.local(32)
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    val em = new Emitter
    picked.foreach { name =>
      val (fam, defaultSf) = families(name)
      em.line(s"""{"family":"$name"}""")
      fam(spark, sfOverride.getOrElse(defaultSf), em)
    }
    spark.stop()
  }
}
