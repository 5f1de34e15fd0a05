package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.util.Random

/** A seeded catalogue in the shape of books.toscrape.com: `pages` listing
  * pages of 20 product links each, and one detail page (~12 KB, most of it
  * the site's navigation markup) per distinct book, written as local files.
  * The fetch function serves URLs from these files and counts its calls.
  *
  * The catalogue carries the edge rows the reference's transform must
  * handle: cp1252 mojibake in descriptions, missing descriptions, an
  * unmapped rating word, stock on the bin edges (0, 9, 10, 17, 18) and
  * beyond the last edge (≥ 100000, which bins to null), many books at the
  * same price so that quantile edges tie, and books listed twice.
  */
object Books {

  val Site = "http://books.toscrape.com/"
  val Catalogue = Site + "catalogue/"

  /** What a correct run of the reference pipeline reports for this
    * catalogue, derived from the generator's own records. */
  final case class Truth(
      rows: Long,
      distinctBooks: Long,
      categories: Long,
      inventoryValue: BigDecimal,
      ratingSum: Long,
      inStock: Long,
      stockBins: Long)

  /** Fetch calls made by every fetch function in this JVM. */
  val fetches = new AtomicLong(0L)

  /** The injected `url → html` function of [[graft.pipeline.BooksEtl]]. */
  def fetcher(dir: String): String => String = url => {
    fetches.incrementAndGet()
    val rel = url.stripPrefix(Catalogue)
    val file =
      if (rel.startsWith("page-")) s"$dir/$rel"
      else s"$dir/books/${rel.stripSuffix("/index.html")}.html"
    new String(Files.readAllBytes(Paths.get(file)), UTF_8)
  }

  private val Categories = Seq("Travel", "Mystery", "Historical Fiction", "Sequential Art",
    "Classics", "Philosophy", "Romance", "Womens Fiction", "Fiction", "Childrens",
    "Religion", "Nonfiction", "Music", "Default", "Science Fiction", "Sports and Games",
    "Add a comment", "Fantasy", "New Adult", "Young Adult", "Science", "Poetry",
    "Paranormal", "Art", "Psychology", "Autobiography", "Parenting", "Adult Fiction",
    "Humor", "Horror", "History", "Food and Drink", "Christian Fiction",
    "Business", "Biography", "Thriller", "Contemporary", "Spirituality")
  private val Words = Seq("light", "attic", "velvet", "soumission", "sharp", "objects",
    "sapiens", "requiem", "red", "dirty", "little", "secrets", "coming", "woman",
    "boys", "boat", "black", "maria", "starving", "hearts", "shakespeare", "sonnets",
    "set", "me", "free", "scott", "pilgrim", "rip", "tide", "king", "our", "band")
  private val RatingWord = Array("Zero", "One", "Two", "Three", "Four", "Five")
  // Stock values on and around the bin edges [0,10)[10,18)[18,100000).
  private val EdgeStock = Array(0, 9, 10, 17, 18, 100000, 250000)
  // A handful of prices shared by many books, so that tercile cut points
  // fall on ties.
  private val TiePrices = Array(BigDecimal("19.99"), BigDecimal("35.02"), BigDecimal("51.77"))
  // ~9 KB of the site's page chrome, so each detail page is ~12 KB.
  private val Chrome: String = {
    val sb = new StringBuilder
    sb ++= "<div class=\"side_categories\"><ul class=\"nav nav-list\">\n"
    var i = 0
    while (sb.length < 9000) {
      val c = Categories(i % Categories.length)
      sb ++= s"""<li><a href="../category/books/${c.toLowerCase.replace(' ', '-')}_${i + 2}/index.html">\n    $c\n</a></li>\n"""
      i += 1
    }
    sb ++= "</ul></div>\n"
    sb.toString
  }

  private final case class Book(id: Int, title: String, description: Option[String],
                                category: String, rating: Int, price: BigDecimal, stock: Int)

  private def slug(b: Book): String = s"book-${b.id}_${b.id + 1000}"

  /** Writes the catalogue for `seed` under `dir` and returns its truth. */
  def generate(seed: Long, pages: Int, dir: String): Truth = {
    val rnd = new Random(seed)
    val listed = pages * 20
    val distinct = listed - listed / 50 // 2% of listing slots repeat a book
    val books = (0 until distinct).map { i =>
      val title = (0 until 2 + rnd.nextInt(4)).map(_ => Words(rnd.nextInt(Words.length)))
        .mkString(" ").capitalize + s" (Vol. $i)"
      val sentences = (0 until 20 + rnd.nextInt(40)).map { _ =>
        (0 until 8).map(_ => Words(rnd.nextInt(Words.length))).mkString(" ")
      }
      val description = rnd.nextInt(20) match {
        case 0 => None
        case 1 | 2 => Some(sentences.mkString("Itâ€™s ", ". ", " â€” more"))
        case _ => Some(sentences.mkString("", ". ", " ...more"))
      }
      val stock =
        if (rnd.nextInt(10) == 0) EdgeStock(rnd.nextInt(EdgeStock.length)) else 1 + rnd.nextInt(40)
      val price =
        if (rnd.nextInt(4) == 0) TiePrices(rnd.nextInt(TiePrices.length))
        else BigDecimal(1000 + rnd.nextInt(5000), 2)
      Book(i, title, description, Categories(rnd.nextInt(Categories.length)),
        rnd.nextInt(6), price, stock)
    }
    val slots = books ++ (0 until listed - distinct).map(_ => books(rnd.nextInt(distinct)))
    val order = rnd.shuffle(slots)

    val root = Paths.get(dir)
    Files.createDirectories(root.resolve("books"))
    books.foreach(b => write(root.resolve(s"books/${slug(b)}.html"), detail(b)))
    order.grouped(20).zipWithIndex.foreach { case (page, p) =>
      write(root.resolve(s"page-${p + 1}.html"), listing(page))
    }

    val inventory = order.map(b => b.price * b.stock).sum
    val bins = order.map(b => if (b.stock < 10) 0 else if (b.stock < 18) 1
      else if (b.stock < 100000) 2 else 3).distinct.size
    Truth(rows = listed, distinctBooks = distinct, categories = order.map(_.category).distinct.size,
      inventoryValue = inventory, ratingSum = order.map(_.rating.toLong).sum,
      inStock = order.count(_.stock > 0), stockBins = bins)
  }

  private def write(p: Path, s: String): Unit = Files.write(p, s.getBytes(UTF_8))

  private def listing(page: Seq[Book]): String = page.map { b =>
    s"""<li class="col-xs-6 col-sm-4 col-md-3 col-lg-3"><article class="product_pod">
       |<div class="image_container"><a href="${slug(b)}/index.html"><img src="../media/cache/${b.id}.jpg" alt="${b.title}" class="thumbnail"></a></div>
       |<p class="star-rating ${RatingWord(b.rating)}"></p>
       |<h3><a href="${slug(b)}/index.html" title="${b.title}">${b.title.take(20)}...</a></h3>
       |<div class="product_price"><p class="price_color">Â£${b.price}</p></div>
       |</article></li>""".stripMargin
  }.mkString("<html><body><section><ol class=\"row\">\n", "\n", "\n</ol></section></body></html>\n")

  private def detail(b: Book): String = {
    val avail = if (b.stock > 0) s"In stock (${b.stock} available)" else "Out of stock"
    val desc = b.description.fold("")(d =>
      s"""<div id="product_description" class="sub-header"><h2>Product Description</h2></div>
         |<p>$d</p>
         |""".stripMargin)
    s"""<html><head><title>${b.title} | Books to Scrape - Sandbox</title></head><body>
       |<ul class="breadcrumb">
       |<li><a href="../../index.html">Home</a></li>
       |<li><a href="../category/books_1/index.html">Books</a></li>
       |<li><a href="../category/books/c_${b.id % 50}/index.html">${b.category}</a></li>
       |<li class="active">${b.title}</li>
       |</ul>
       |$Chrome
       |<div class="row"><div class="col-sm-6"><div id="product_gallery" class="carousel"><div class="thumbnail"><div class="carousel-inner">
       |<div class="item active">
       |<img src="../../media/cache/fe/72/${b.id}.jpg" alt="${b.title}" />
       |</div></div></div></div></div>
       |<div class="col-sm-6 product_main"><h1>${b.title}</h1>
       |<p class="star-rating ${RatingWord(b.rating)}">
       |</p></div></div>
       |$desc<table class="table table-striped">
       |<tr><th>UPC</th><td>${f"${b.id * 2654435761L & 0xffffffffL}%016x"}</td></tr>
       |<tr><th>Product Type</th><td>Books</td></tr>
       |<tr><th>Price (excl. tax)</th><td>Â£${b.price}</td></tr>
       |<tr><th>Price (incl. tax)</th><td>Â£${b.price}</td></tr>
       |<tr><th>Tax</th><td>Â£0.00</td></tr>
       |<tr><th>Availability</th><td>$avail</td></tr>
       |<tr><th>Number of reviews</th><td>${b.id % 7}</td></tr>
       |</table></body></html>
       |""".stripMargin
  }
}
