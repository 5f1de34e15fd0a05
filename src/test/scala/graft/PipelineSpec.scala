package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.io.BooksCsv
import graft.model.Model
import graft.pipeline.{BooksEtl, Report}

class BooksSourceSpec extends SparkSpec {

  test("DataSource V2 books source reads a fixture dir as a typed table") {
    val dir = Files.createTempDirectory("books_dsv2")
    (1 to 5).foreach { i =>
      val html = Fixtures.detailPage(s"Book$i", "Fiction", "Three", "£9.99",
        s"In stock ($i available)", withDescription = true)
      Files.write(dir.resolve(f"book_$i%03d.html"), html.getBytes(StandardCharsets.UTF_8))
    }
    val df = spark.read.format("graft.sources.BooksDataSource")
      .option("path", dir.toString).option("filesPerPartition", "2").load()
    assert(df.schema == graft.sources.BooksDataSource.schema)
    assert(df.rdd.getNumPartitions == 3) // 5 files / 2 per partition
    val rows = df.collect()
    assert(rows.length == 5)
    val b1 = rows.find(_.getAs[String]("Title") == "Book1").get
    assert(b1.getAs[Int]("No_of_books_in_Stock") == 1)
    assert(b1.getAs[Boolean]("Is_in_Stock"))
    assert(b1.getAs[Int]("Rating") == 3)
  }
}

class BooksCsvSpec extends SparkSpec {
  import spark.implicits._

  test("headered CSV round-trip preserves spaced/parenthesized column names") {
    val raw = Seq(Model.Book("T1", "d", "Cat", "img", true, 4, 5,
      "u1", "books", "£1.00", "£1.00", "£0.00", "0")).toDF()
    val dir = Files.createTempDirectory("books_csv").toString + "/books"
    BooksCsv.write(raw, dir)
    val back = BooksCsv.readRaw(spark, dir)
    assert(back.schema == Model.rawBooksSchema)
    val r = back.collect().head
    assert(r.getAs[String]("Price (excl. tax)") == "£1.00")
    assert(r.getAs[Boolean]("Is_in_Stock"))
    assert(r.getAs[Int]("No_of_books_in_Stock") == 4)
  }
}

class PipelineSpec extends SparkSpec {

  test("full ETL: fixtures → star schema CSVs → summary → report") {
    val detail = Fixtures.detailPage("X", "Cat", "Two", "£5.00",
      "In stock (3 available)", withDescription = true)
    val fetch: String => String = url =>
      if (url.contains("page-")) Fixtures.listingPage(10) else detail
    val out = Files.createTempDirectory("etl_out").toString

    val (star, summary) = BooksEtl.run(spark, 2, fetch, Some(out))

    assert(summary.totalBooks == 20)          // 2 pages × 10 fixture books
    assert(summary.totalCategories == 1)
    assert(summary.booksInStock == 20)
    assert(math.abs(summary.totalInventoryValue - 20 * 5.0 * 3) < 1e-9)
    assert(star.fact.count() == 20)

    // the six reference output tables exist on disk
    Seq("books_raw", "books_cleaned", "dim_book", "dim_category",
      "dim_price_tier", "dim_stock_tier", "fact_book_inventory").foreach { t =>
      assert(Files.exists(Paths.get(s"$out/$t")), s"missing $t")
    }

    val html = Report.render(summary, "2026-01-01 00:00:00")
    assert(html.contains("<td>20</td>") && html.contains("£300.00"))
  }
}

/** A ten-book catalogue for the ETL specs. Every listing page links
  * book-1..book-10, so two pages list each book twice. Book i has its own
  * title, one of three categories and price £3i, and the stock counts fill
  * all three stock bins plus the overflow that bins to null. Calls are
  * counted JVM-wide, because Spark tasks run a deserialised copy of the
  * fetch function. */
object EtlCatalogue {
  val fetches = new AtomicLong(0L)
  val listings = new AtomicLong(0L)
  private val Stock = Vector(2, 9, 10, 17, 18, 40, 150000, 5, 12, 30)

  def fetch(url: String): String = serve(url, 10)

  /** [[fetch]] as a live site would serve it: the k-th listing fetch
    * (counted by `listings`) links only the first `10 - k % 3` books, so
    * two scrapes of one page disagree. */
  def driftingFetch(url: String): String =
    serve(url, if (url.contains("page-")) 10 - (listings.getAndIncrement() % 3).toInt else 10)

  private def serve(url: String, listed: Int): String = {
    fetches.incrementAndGet()
    if (url.contains("page-")) Fixtures.listingPage(listed)
    else {
      val i = url.split("book-")(1).takeWhile(_.isDigit).toInt
      Fixtures.detailPage(s"Book$i", Seq("Travel", "Poetry", "Fiction")(i % 3), "Four",
        f"£${3.0 * i}%.2f", s"In stock (${Stock(i - 1)} available)", withDescription = i % 4 != 0)
    }
  }
}

/** One `BooksEtl` run computes every table once: one fetch snapshot, six
  * cached tables the caller releases, and sinks written on threads that
  * carry the caller's local properties and fail loudly. */
class EtlOnceSpec extends SparkSpec {

  private val pages = 2
  private val listed = pages * 10

  private def cacheEntries: Int = org.apache.spark.sql.graft.CacheEntries.count(spark)

  private def sinkThreads: Set[String] =
    Thread.getAllStackTraces.keySet.asScala.map(_.getName)
      .filter(_.startsWith("books-etl-sink-")).toSet

  private def freshOut(): String = Files.createTempDirectory("etl_once").toString

  test("one run fetches each listing page and each listed book exactly once") {
    EtlCatalogue.fetches.set(0L)
    val (star, summary) = BooksEtl.run(spark, pages, EtlCatalogue.fetch, Some(freshOut()))
    star.unpersist()
    assert(summary.totalBooks == listed)
    assert(EtlCatalogue.fetches.get == pages + listed)
  }

  test("every job the sinks launch carries the caller's local properties") {
    val raw = BooksEtl.extract(spark, pages, EtlCatalogue.fetch)
    val sc = spark.sparkContext
    val key = "graft.test.etl_phase"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty(key))).getOrElse("<unset>"))
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "transform")
      BooksEtl.transform(raw, Some(freshOut())).unpersist()
      // Listener events arrive in order: once the marker job is seen, so
      // are all the jobs before it.
      sc.setLocalProperty(key, "marker")
      spark.range(1).count()
      eventually(timeout(30.seconds))(assert(seen.contains("marker")))
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
    val jobs = seen.asScala.toList.takeWhile(_ != "marker")
    assert(jobs.size >= 6, jobs) // at least one job per sink
    assert(jobs.forall(_ == "transform"), jobs)
    assert(sinkThreads.isEmpty, sinkThreads)
  }

  test("a failing sink fails transform, releases its caches, leaves no sink thread") {
    val raw = BooksEtl.extract(spark, pages, EtlCatalogue.fetch)
    val before = cacheEntries
    val file = Files.createTempFile("etl_once", ".txt")
    intercept[Exception](BooksEtl.transform(raw, Some(s"$file/out")))
    assert(cacheEntries == before)
    assert(sinkThreads.isEmpty, sinkThreads)
  }

  test("TransformResult.unpersist releases every cache entry a run added") {
    val before = cacheEntries
    val (star, _) = BooksEtl.run(spark, pages, EtlCatalogue.fetch, Some(freshOut()))
    assert(cacheEntries == before + 6)
    star.unpersist()
    assert(cacheEntries == before)
  }

  test("the seven CSVs of one run agree: keys resolve, ids dense, raw rows = fact rows") {
    // Over a drifting site, every table must still come from one scrape.
    EtlCatalogue.listings.set(0L)
    val out = freshOut()
    val (star, _) = BooksEtl.run(spark, pages, EtlCatalogue.driftingFetch, Some(out))
    star.unpersist()
    def csv(t: String) = BooksCsv.read(spark, s"$out/$t")
    val fact = csv("fact_book_inventory")
    Seq("dim_book" -> ("book_id", 10), "dim_category" -> ("category_id", 3),
      "dim_price_tier" -> ("price_tier_id", 3), "dim_stock_tier" -> ("stock_tier_id", 4)
    ).foreach { case (d, (id, n)) =>
      val dim = csv(d)
      val ids = dim.select(id).collect().map(_.getAs[Number](0).longValue).sorted.toSeq
      assert(ids == (1L to n), s"$d ids")
      val dangling = fact.join(dim, Seq(id), "left_anti").count()
      assert(dangling == 0, s"$dangling fact rows with no $d row")
    }
    assert(fact.count() == 10 + 9) // the two listing fetches linked 10 and 9 books
    assert(csv("books_raw").count() == fact.count())
  }
}
