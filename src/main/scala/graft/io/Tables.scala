package graft.io

import java.nio.file.{FileVisitOption, Paths, Files => Fs}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver's parquet testdata (`TESTDATA.md`): one parquet
  * per table under `/root/testdata/sf{N}/`. Explicit helpers keep query
  * code terse and make the scan the narrowest thing Catalyst can prune.
  *
  * Every loader reads through [[scan]], which infers a path's schema once
  * and hands it to later reads, so building a query runs no
  * schema-inference job.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    scan(spark, s"$dir/$name.parquet")

  /** (relative name, size, mtime in ms) of every file a scan of `path`
    * lists, sorted; a file `path` lists as itself with name "". Names
    * Spark's file index skips (`.`/`_` prefixes, except `_k=v` partition
    * dirs and the parquet summary files) are skipped here too; links are
    * followed, as Spark's listing does. Empty when `path` does not exist. Any rewrite of an input shows up here, so a
    * memo keyed on it cannot outlive its input. */
  private[io] type Listing = Seq[(String, Long, Long)]
  private[io] def files(path: String): Listing = {
    val root = Paths.get(new Path(path).toUri.getPath)
    if (!Fs.exists(root)) Nil
    else {
      def listed(p: java.nio.file.Path): Boolean =
        root.relativize(p).iterator.asScala.map(_.toString).forall { n =>
          !n.startsWith(".") && !(n.startsWith("_") && !n.contains("=") &&
            !n.startsWith("_metadata") && !n.startsWith("_common_metadata"))
        }
      val walk = Fs.walk(root, FileVisitOption.FOLLOW_LINKS)
      try walk.iterator.asScala
        .filter(p => Fs.isRegularFile(p) && listed(p))
        .map(p => (root.relativize(p).toString, Fs.size(p),
          Fs.getLastModifiedTime(p).toMillis))
        .toList.sorted
      finally walk.close()
    }
  }

  private val schemas = new ConcurrentHashMap[(String, Listing, Seq[(String, String)]), StructType]()

  /** `spark.read.parquet(path)` without the schema-inference job on every
    * call: the schema Spark infers (field metadata included) is kept and
    * passed to later reads as their schema. The relation is the same one
    * inference builds: `HadoopFsRelation` takes the data schema
    * `asNullable` either way. The memo key is the path, its [[files]],
    * and the session's set `spark.sql.parquet.*` /
    * `spark.sql.legacy.parquet.*` values (`nanosAsLong` and
    * `binaryAsString` change the inferred types), so a rewritten input or a
    * changed conf infers again. `ParquetScanSpec` checks parity and
    * freshness. */
  def scan(s: SparkSession, path: String): DataFrame = {
    val conf = confUnder(s, "spark.sql.parquet.", "spark.sql.legacy.parquet.")
    val schema = schemas.computeIfAbsent((path, files(path), conf),
      _ => s.read.parquet(path).schema)
    s.read.schema(schema).parquet(path)
  }

  /** The session's set values of the confs under `prefixes`, sorted. */
  private def confUnder(s: SparkSession, prefixes: String*): Seq[(String, String)] =
    s.conf.getAll.toSeq.filter { case (k, _) => prefixes.exists(k.startsWith) }.sorted

  /** Repartition up to the session's parallelism when the source produced
    * fewer splits (e.g. one small parquet file → one partition, which would
    * serialize every per-row-expensive stage built on it). At scale the
    * input already has ≥cores splits and this is a no-op — no shuffle.
    *
    * The split-count probe (`df.rdd.getNumPartitions`) converts the plan to
    * an RDD — no job, but a per-call planning tax — so it is memoized on the
    * scan's input files with their sizes and mtimes ([[files]]), the
    * target and the session's `spark.sql.files.*` values: same key → same
    * split count (split planning depends only on file sizes,
    * `maxPartitionBytes`, `openCostInBytes` and the parallelism; partition
    * pruning changes the file set and therefore the key; a rewritten file
    * changes its size or mtime). One probe per input per session, like
    * [[Stats.embeddingDim]]. */
  private val splitProbe =
    new ConcurrentHashMap[(Seq[(String, Listing)], Int, Seq[(String, String)]), Integer]()
  def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val inputs = df.inputFiles
    val n =
      if (inputs.nonEmpty)
        splitProbe.computeIfAbsent((inputs.toSeq.sorted.map(f => (f, files(f))), target,
          confUnder(df.sparkSession, "spark.sql.files.")),
          _ => Integer.valueOf(df.rdd.getNumPartitions)).intValue
      else df.rdd.getNumPartitions
    if (n < target) df.repartition(target) else df
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.parquet` has stored `ts` as TIMESTAMP(NANOS) (readable only
    * as a raw long under `spark.sql.legacy.parquet.nanosAsLong=true`, set
    * by Verify/Bench) and, in newer generations, as naive TIMESTAMP(MICROS)
    * (read as TIMESTAMP_NTZ). Normalize BOTH to a session-zone TIMESTAMP:
    * ns→µs uses integer division (a double division would lose precision
    * above 2^53 ns); the NTZ cast is wall-clock-preserving under the UTC
    * session every entry point pins. Downstream event-time code (watermarks,
    * `Row.getTimestamp`, `unix_millis`) requires the LTZ type.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}

/** Cheap dataset statistics, cached per input (path + [[Tables.files]], so
  * a rewritten table is probed again). The kind of bounded metadata probe
  * (one row, one column) that is fine to run once but should never be
  * re-fired per query invocation. */
object Stats {
  private val embDims = new ConcurrentHashMap[(String, Tables.Listing), Integer]()

  /** Width of the fixed-width `embeddings.embedding` column — used to unroll
    * cosine folds into codegen-friendly flat sums. One-row probe, memoized. */
  def embeddingDim(s: SparkSession, dir: String): Int =
    embDims.computeIfAbsent((dir, Tables.files(s"$dir/embeddings.parquet")), { _ =>
      import org.apache.spark.sql.functions.{col, size}
      Integer.valueOf(Tables.embeddings(s, dir).select(size(col("embedding"))).head().getInt(0))
    }).intValue()
}
