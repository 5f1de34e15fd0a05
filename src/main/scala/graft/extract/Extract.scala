package graft.extract

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spark side of the extraction pipeline (`extract_pipeline.py:76-90`
  * re-expressed as a lazy plan): page range → listing parse (1→20
  * generator) → detail parse (struct UDF) → flat 13-column books frame.
  *
  * The reference fetches live over HTTP, strictly sequentially; here the
  * fetch is an injected `url → html` function (fixture files in this
  * zero-egress environment, an HTTP client in production) applied inside
  * `mapPartitions`-style UDFs. The 1→20 fan-out and per-book fetches and
  * parses run in the tasks of `spark.range`'s partitions (one per core by
  * default) only if the frame is materialised as it is:
  * `graft.pipeline.BooksEtl.extract` local-checkpoints it. A consumer that
  * narrows it first, such as a `coalesce(1)` single-file sink, runs the
  * whole scrape in one task, and every action on the lazy frame re-fetches.
  */
object Extract {

  /** O2 — enumerate listing-page URLs 1..n as a distributed range (no
    * driver-side list; `spark.range` scales to any n). */
  def pageUrls(spark: SparkSession, n: Int): DataFrame =
    spark.range(1, n + 1).select(
      format_string("http://books.toscrape.com/catalogue/page-%d.html", col("id"))
        .as("page_url"))

  /** O3 — listing → detail-URL generator: 1 row in, up to 20 out.
    * `explode` of an array-returning UDF = a Catalyst `Generate` node. */
  def bookUrls(pages: DataFrame, fetch: String => String): DataFrame = {
    val extractLinks = udf((url: String) => BookHtml.parseListing(fetch(url)))
    pages.select(explode(extractLinks(col("page_url"))).as("book_url"))
  }

  /** O4 — detail parse: URL → 13-field Book struct, flattened. */
  def books(urls: DataFrame, fetch: String => String): DataFrame = {
    val parse = udf((url: String) => BookHtml.parseBook(fetch(url)))
    urls.select(parse(col("book_url")).as("book")).select("book.*")
  }

  /** Full extraction: n pages → flat books frame
    * (`fetch_main_page_url`, `extract_pipeline.py:76-90`). */
  def scrape(spark: SparkSession, nPages: Int, fetch: String => String): DataFrame =
    books(bookUrls(pageUrls(spark, nPages), fetch), fetch)
}
