package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.extract.BookHtml
import graft.model.Model.Book

/** DataSource V2 "books" source — the idiomatic Spark packaging of the
  * reference's HTTP scrape source (SURVEY.md §2 O1):
  *
  * {{{
  *   spark.read.format("graft.sources.BooksDataSource")
  *     .option("path", "/fixtures/details").load()
  * }}}
  *
  * Each detail-page HTML file under `path` parses to one typed row of the
  * 13-field book schema. Files are sharded into InputPartitions
  * (`filesPerPartition`, default 64), so a million-page crawl dump reads as
  * a normal parallel scan — executors parse independently, no driver
  * bottleneck beyond the listing. In a networked deployment the partition
  * reader's `fetch` would be an HTTP client; here it reads fixture files
  * (zero-egress environment).
  */
class BooksDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    BooksDataSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new BooksTable(properties.asScala.toMap)

  override def supportsExternalMetadata(): Boolean = false
}

object BooksDataSource {
  /** Typed book schema: the reference's 13 columns with parse-time types
    * (prices stay raw strings — cleaning is the transform layer's job),
    * the same record the CSV stage reads back. */
  val schema: StructType = graft.model.Model.rawBooksSchema
}

class BooksTable(properties: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"books(${properties.getOrElse("path", "?")})"
  override def schema(): StructType = BooksDataSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new BooksScanBuilder(
      options.getOrDefault("path", properties.getOrElse("path", "")),
      options.getOrDefault("filesPerPartition",
        properties.getOrElse("filesPerPartition", "64")).toInt)
}

class BooksScanBuilder(path: String, filesPerPartition: Int)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit {
  private var required: StructType = BooksDataSource.schema
  private var limit: Option[Int] = None
  /** Column pruning: only the projected fields are materialized into rows —
    * a `select(Title)` over a million-page dump carries 1 string per page,
    * not 13. */
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  /** Limit pushdown: one detail page parses to EXACTLY one row, so
    * truncating the file listing to the first `n` files is a COMPLETE
    * push — `.load().limit(n)` lists, reads, and parses n files, not the
    * whole crawl dump. `isPartiallyPushed = false` tells Spark no residual
    * limit is needed on top. */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }
  override def isPartiallyPushed(): Boolean = false
  override def build(): Scan = new BooksScan(path, filesPerPartition, required, limit)
}

case class BooksFilePartition(files: Seq[String]) extends InputPartition

class BooksScan(path: String, filesPerPartition: Int, required: StructType,
                limit: Option[Int] = None)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"BooksScan(path=$path, limit=${limit.getOrElse(-1)})"

  override def planInputPartitions(): Array[InputPartition] = {
    val dir = Paths.get(path)
    val listed: Seq[String] =
      if (Files.isDirectory(dir))
        Files.list(dir).iterator().asScala
          .filter(p => p.toString.endsWith(".html"))
          .map(_.toString).toSeq.sorted
      else Seq.empty
    val files = limit.fold(listed)(listed.take)
    files.grouped(math.max(1, filesPerPartition))
      .map(g => BooksFilePartition(g): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new BooksReaderFactory(required)
}

class BooksReaderFactory(required: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new BooksPartitionReader(partition.asInstanceOf[BooksFilePartition].files, required)
}

class BooksPartitionReader(files: Seq[String], required: StructType)
    extends PartitionReader[InternalRow] {
  private val it = files.iterator
  private var current: InternalRow = _

  private def field(b: Book, name: String): Any = name match {
    case "Title" => UTF8String.fromString(b.Title)
    case "Description" => UTF8String.fromString(b.Description)
    case "Category" => UTF8String.fromString(b.Category)
    case "Image_link" => UTF8String.fromString(b.Image_link)
    case "Is_in_Stock" => b.Is_in_Stock
    case "No_of_books_in_Stock" => b.No_of_books_in_Stock
    case "Rating" => b.Rating
    case "UPC" => UTF8String.fromString(b.UPC)
    case "Product Type" => UTF8String.fromString(b.`Product Type`)
    case "Price (excl. tax)" => UTF8String.fromString(b.`Price (excl. tax)`)
    case "Price (incl. tax)" => UTF8String.fromString(b.`Price (incl. tax)`)
    case "Tax" => UTF8String.fromString(b.Tax)
    case "Number of reviews" => UTF8String.fromString(b.`Number of reviews`)
  }

  private def toRow(b: Book): InternalRow =
    InternalRow.fromSeq(required.fieldNames.toSeq.map(n => field(b, n)))

  override def next(): Boolean =
    if (it.hasNext) {
      val html = new String(Files.readAllBytes(Paths.get(it.next())), StandardCharsets.UTF_8)
      current = toRow(BookHtml.parseBook(html))
      true
    } else false

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
