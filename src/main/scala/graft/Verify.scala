package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths, StandardCopyOption}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare, and failed.json
  * (`{name: first line of the error}`, `{}` when every query dumped). */
object Verify {
  /** Dumps each query to `$outDir/<name>` and returns the ones that threw,
    * name → first line of the error (the full message goes to stderr).
    * Each dump is written to the sibling `$outDir/.<name>.tmp` and renamed
    * into place only once the write has finished, so a query that fails
    * mid-write leaves neither directory behind. */
  private[graft] def dumpAll(spark: SparkSession, sfDir: String, outDir: String,
                             queries: Seq[(String, (SparkSession, String) => DataFrame)])
      : Seq[(String, String)] =
    queries.flatMap { case (name, fn) =>
      val tmp = Paths.get(outDir, s".$name.tmp")
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val dst = Paths.get(outDir, name)
        graft.io.Scratch.delete(dst)
        Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
        None
      } catch { case e: Throwable =>
        graft.io.Scratch.delete(tmp)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse(""))
      }
    }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in the oracle SQL would otherwise make the DuckDB
  // compare's json.load fail and silently report no query as correct.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def json(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated name prefixes — dump only matching
    // queries (local iteration aid; the driver always omits it)
    val only: Option[Seq[String]] = args.drop(2).headOption.map(_.split(",").toSeq)
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    val failed = dumpAll(spark, sfDir, outDir, SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/failed.json"), json(failed.sortBy(_._1)))
    spark.stop()
  }
}
