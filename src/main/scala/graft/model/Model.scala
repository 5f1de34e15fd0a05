package graft.model

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Data model of the books pipeline. Column names (spaces and parentheses
  * included) are preserved verbatim from the reference's scraper record
  * (`/root/reference/extract_pipeline.py:36-50`) so downstream name-parity
  * holds; backtick-quote them in SQL.
  */
object Model {

  /** The 13-field scraped-book record (`extract_pipeline.py:36-50`).
    * Price/tax/review fields are raw strings at this stage — cleaning is the
    * transform layer's job, exactly as in the reference. */
  case class Book(
      Title: String,
      Description: String,
      Category: String,
      Image_link: String,
      Is_in_Stock: Boolean,
      No_of_books_in_Stock: Int,
      Rating: Int,
      UPC: String,
      `Product Type`: String,
      `Price (excl. tax)`: String,
      `Price (incl. tax)`: String,
      Tax: String,
      `Number of reviews`: String)

  /** Explicit CSV schema for `books.csv` — replaces pandas dtype inference
    * (`transformation_pipeline.py:40`) with a declared schema for
    * determinism. */
  val rawBooksSchema: StructType = StructType(Seq(
    StructField("Title", StringType),
    StructField("Description", StringType),
    StructField("Category", StringType),
    StructField("Image_link", StringType),
    StructField("Is_in_Stock", BooleanType),
    StructField("No_of_books_in_Stock", IntegerType),
    StructField("Rating", IntegerType),
    StructField("UPC", StringType),
    StructField("Product Type", StringType),
    StructField("Price (excl. tax)", StringType),
    StructField("Price (incl. tax)", StringType),
    StructField("Tax", StringType),
    StructField("Number of reviews", StringType)))

  /** The star schema produced by the transform
    * (`transformation_pipeline.py:69-123`): 4 dims + 1 fact + the cleaned
    * flat table. `Transform.buildStar` caches all six; the caller owns
    * those caches and must [[unpersist]] them when done, or a long-lived
    * driver keeps one set per run. */
  case class TransformResult(
      cleaned: DataFrame,
      dimBook: DataFrame,
      dimCategory: DataFrame,
      dimPriceTier: DataFrame,
      dimStockTier: DataFrame,
      fact: DataFrame) {

    /** Releases the six cached tables, readers before what they read: a
      * cached plan whose input is uncached while it is still unfilled would
      * be re-planned. */
    def unpersist(): Unit =
      Seq(fact, dimBook, dimCategory, dimPriceTier, dimStockTier, cleaned).foreach(_.unpersist())
  }

  /** The five summary stats the DAG emails out (`airflow.py:101-107`). */
  case class Summary(
      totalBooks: Long,
      totalCategories: Long,
      totalInventoryValue: Double,
      avgRating: Double,
      booksInStock: Long)
}
