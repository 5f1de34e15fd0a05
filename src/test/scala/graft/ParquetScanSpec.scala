package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, MetadataBuilder, StringType}

import graft.io.{Stats, Tables}
import graft.tools.JobCount

/** `Tables.scan` keeps the schema Spark infers for a parquet path and
  * passes it to later reads. These specs pin what that relies on: the
  * kept schema and rows equal a plain `spark.read.parquet`, a repeated
  * read of an unchanged path runs no job, and a rewritten path or a
  * changed parquet conf infers again. */
class ParquetScanSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private def tempDir(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("t").toString

  private def assertParity(path: String): Unit = {
    val cached = Tables.scan(spark, path)
    val plain = spark.read.parquet(path)
    assert(cached.schema === plain.schema, path) // StructField equality includes metadata
    assert(cached.collect().toSeq === plain.collect().toSeq, path)
  }

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("scan equals spark.read.parquet: every testdata table, schema and rows") {
    tables.foreach(t => assertParity(s"$sf/$t.parquet"))
  }

  test("scan equals spark.read.parquet on a multi-file dir, field metadata included") {
    val out = tempDir("scan_multi")
    val meta = new MetadataBuilder().putString("unit", "cents").build()
    spark.range(0, 40, 1, 4)
      .select(col("id"), (col("id") * 3).as("v", meta), col("id").cast("string").as("s"))
      .write.parquet(out)
    assert(new java.io.File(out).list().count(_.endsWith(".parquet")) === 4)
    assertParity(out)
    assert(Tables.scan(spark, out).schema("v").metadata === meta)
  }

  test("a second read of an unchanged path launches no job") {
    val out = tempDir("scan_jobs")
    spark.range(10).write.parquet(out)
    Tables.scan(spark, out)
    val (df, jobs) = JobCount.during(spark)(Tables.scan(spark, out))
    assert(jobs === 0)
    // the plain read pays inference on every call; this is what scan saves
    val (_, plainJobs) = JobCount.during(spark)(spark.read.parquet(out))
    assert(plainJobs >= 1)
    assert(df.count() === 10L)
  }

  test("an overwrite and an append each show in the next read") {
    // mergeSchema makes an appended file with a new column visible in the
    // schema, so a memo still keyed on the old files would show here
    withConf("spark.sql.parquet.mergeSchema", "true") {
      val out = tempDir("scan_fresh")
      spark.range(3).select(col("id"), lit("x").as("a")).write.parquet(out)
      assert(Tables.scan(spark, out).columns.toSeq === Seq("id", "a"))
      spark.range(5).select(col("id"), (col("id") * 0.5).as("b"))
        .write.mode("overwrite").parquet(out)
      val second = Tables.scan(spark, out)
      assert(second.columns.toSeq === Seq("id", "b"))
      assert(second.count() === 5L)
      spark.range(5, 7).select(col("id"), (col("id") * 0.5).as("b"), lit(1).as("c"))
        .write.mode("append").parquet(out)
      val third = Tables.scan(spark, out)
      assert(third.columns.toSeq === Seq("id", "b", "c"))
      assert(third.where(col("c").isNotNull).count() === 2L)
      assertParity(out)
    }
  }

  test("binaryAsString set on the session changes the next read's type") {
    val out = tempDir("scan_binary")
    writeBareBinary(Path.of(out, "part-0.parquet"))
    assert(Tables.scan(spark, out).schema("b").dataType === BinaryType)
    withConf("spark.sql.parquet.binaryAsString", "true") {
      val asString = Tables.scan(spark, out)
      assert(asString.schema("b").dataType === StringType)
      assert(asString.collect().map(_.getString(0)).toSeq === Seq("p", "q"))
    }
    assert(Tables.scan(spark, out).schema("b").dataType === BinaryType)
  }

  test("embeddingDim follows a rewrite of embeddings.parquet") {
    val dir = Files.createTempDirectory("scan_dim").toString
    def write(width: Int): Unit =
      spark.range(4).select(col("id").as("doc_id"),
        array_repeat(lit(0.25f), width).as("embedding"))
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    write(3)
    assert(Stats.embeddingDim(spark, dir) === 3)
    write(5)
    assert(Stats.embeddingDim(spark, dir) === 5)
  }

  test("widen's split count follows a rewrite of its input file") {
    // 4 KB splits: a one-row file is one split (widened to the session's
    // parallelism), a 40 KB file rewritten under the same name is several
    val dir = Files.createTempDirectory("scan_widen")
    val file = dir.resolve("data.parquet")
    def write(rows: Int): Unit = {
      val out = dir.resolve("w").toString
      spark.range(0, rows, 1, 1).select(rand(7).as("x")).write.mode("overwrite").parquet(out)
      val part = Files.list(Path.of(out)).filter(_.toString.endsWith(".parquet")).findFirst.get
      Files.move(part, file, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    def widened: Boolean = Tables.widen(spark.read.parquet(file.toString))
      .queryExecution.logical.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Repartition]
    withConf("spark.sql.files.maxPartitionBytes", "4096") {
      write(1)
      assert(widened)
      write(5000)
      assert(Files.size(file) > 3 * 4096)
      assert(!widened)
    }
  }

  test("building q16_join_multi a second time launches no job") {
    val q = SparkEntry.queries("q16_join_multi")
    q(spark, sf)
    val (_, jobs) = JobCount.during(spark)(q(spark, sf))
    assert(jobs === 0)
  }

  /** A parquet file whose binary column carries no string annotation and
    * no Spark schema in its footer, the case `binaryAsString` is for (a
    * Spark-written footer keeps Spark's own type, whatever the conf). */
  private def writeBareBinary(file: Path): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file.toUri))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try Seq("p", "q").foreach(v => w.write(rows.newGroup().append("b", v)))
    finally w.close()
  }
}
