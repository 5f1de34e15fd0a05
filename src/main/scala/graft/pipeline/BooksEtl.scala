package graft.pipeline

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.extract.Extract
import graft.io.BooksCsv
import graft.model.Model.{Summary, TransformResult}
import graft.transform.Transform

/** The end-to-end ETL the reference's Airflow DAG runs every 10 minutes
  * (`/root/reference/airflow.py:46-111`), as one Spark driver program:
  * extract → persist raw → transform → persist star schema → summary →
  * render report. Scheduling/retries stay out-of-engine (the DAG's cron,
  * `airflow.py:31,42-44`); an in-engine streaming variant lives in
  * `graft.streaming`.
  *
  * One run computes every table once. [[extract]] scrapes once into a
  * local checkpoint, so the raw CSV, `books_cleaned` and the star schema
  * all come from one fetch snapshot. [[transform]] caches the six tables
  * (see [[Transform.buildStar]]) and writes their sinks in three waves:
  * `books_cleaned` (filling the cleaned cache), then the four dims at
  * once, then the fact, which reads the four dim caches. [[summarize]]
  * reads the cached fact and category dim. The caller owns the caches:
  * release them with [[TransformResult.unpersist]].
  */
object BooksEtl {

  /** Extract stage (`airflow.py:52-72`): scrape via the injected fetch,
    * persist the raw frame as headered CSV, return it.
    *
    * The scrape runs once, across `spark.range`'s partitions, into an eager
    * `localCheckpoint()`; the CSV sink and every later reader read those
    * blocks, never the fetch. A lost block fails the job instead of
    * silently re-scraping a live site. */
  def extract(spark: SparkSession, nPages: Int, fetch: String => String,
              rawCsvPath: Option[String] = None): DataFrame = {
    val raw = Extract.scrape(spark, nPages, fetch).localCheckpoint()
    rawCsvPath.foreach(p => BooksCsv.write(raw, p))
    raw
  }

  /** Transform stage (`airflow.py:74-111`): clean → derive → bin → star
    * schema; optionally persist all six tables as CSV like the reference
    * (`transformation_pipeline.py:66,74,80,86,92,117`).
    *
    * The sinks go in dependency order: `books_cleaned` first, which fills
    * the cleaned cache the dims read; the four dims together; the fact last,
    * over the filled dim caches. Writing all six at once would make the
    * dims race the cleaned-cache fill. If a sink fails, the caches are
    * released and the failure is rethrown. */
  def transform(raw: DataFrame, outDir: Option[String] = None): TransformResult = {
    val result = Transform.run(raw)
    try outDir.foreach { dir =>
      Seq(
        Seq("books_cleaned" -> result.cleaned),
        Seq("dim_book" -> result.dimBook, "dim_category" -> result.dimCategory,
          "dim_price_tier" -> result.dimPriceTier, "dim_stock_tier" -> result.dimStockTier),
        Seq("fact_book_inventory" -> result.fact)
      ).foreach(wave => writeWave(dir, wave))
    } catch {
      case e: Throwable => result.unpersist(); throw e
    }
    result
  }

  /** Writes each `name -> frame` as the single-file CSV sink `dir/name`, all
    * at once, one thread (`books-etl-sink-<name>`) per sink. The threads are
    * started from the calling thread, so every Spark job they launch
    * carries the caller's local properties (job group, scheduler pool, job
    * tags). Returns once every thread has ended; the first failure is
    * rethrown with the others suppressed. */
  private def writeWave(dir: String, sinks: Seq[(String, DataFrame)]): Unit = {
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val threads = sinks.map { case (name, df) =>
      new Thread(() =>
        try BooksCsv.write(df, s"$dir/$name")
        catch { case e: Throwable => failures.add(e) },
        s"books-etl-sink-$name")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    failures.asScala.toList match {
      case first :: rest => rest.foreach(first.addSuppressed); throw first
      case Nil =>
    }
  }

  /** Summary stage (`airflow.py:101-107`): the five stats, collected to a
    * typed case class at the driver boundary — the single place the
    * pipeline leaves the distributed plan. */
  def summarize(star: TransformResult): Summary = {
    val row = Transform.summary(star).collect().head
    Summary(
      totalBooks = row.getAs[Long]("total_books"),
      totalCategories = row.getAs[Long]("total_categories"),
      totalInventoryValue = row.getAs[Double]("total_inventory_value"),
      avgRating = row.getAs[Double]("avg_rating"),
      booksInStock = row.getAs[Long]("books_in_stock"))
  }

  /** Full run. Email delivery (`airflow.py:196-229`) is out-of-engine; the
    * rendered HTML from [[Report.render]] is what a mail sink would send. */
  def run(spark: SparkSession, nPages: Int, fetch: String => String,
          outDir: Option[String] = None): (TransformResult, Summary) = {
    val raw = extract(spark, nPages, fetch, outDir.map(d => s"$d/books_raw"))
    val star = transform(raw, outDir)
    (star, summarize(star))
  }
}

/** O21 — the HTML inventory report the DAG emails out
  * (`airflow.py:113-194`): pure driver-side templating over the summary. */
object Report {
  def render(s: Summary, generatedAt: String): String =
    s"""<html><body>
       |<h2>Books Inventory Report</h2>
       |<p>Generated: $generatedAt</p>
       |<table border="1" cellpadding="6">
       |  <tr><th>Metric</th><th>Value</th></tr>
       |  <tr><td>Total books</td><td>${s.totalBooks}</td></tr>
       |  <tr><td>Total categories</td><td>${s.totalCategories}</td></tr>
       |  <tr><td>Total inventory value</td><td>${f"£${s.totalInventoryValue}%.2f"}</td></tr>
       |  <tr><td>Average rating</td><td>${f"${s.avgRating}%.2f"}</td></tr>
       |  <tr><td>Books in stock</td><td>${s.booksInStock}</td></tr>
       |</table>
       |</body></html>""".stripMargin
}
