package graft.transform

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Functions._
import graft.model.Model.TransformResult

/** The analytical core: clean → derive → bin → star schema → summary,
  * re-expressing `/root/reference/transformation_pipeline.py:28-123` as one
  * lazy Catalyst plan per output instead of eager materialize-every-step
  * pandas. [[buildStar]] caches the cleaned frame before the 5-way fan-out
  * (4 dims + fact), and each dim and the fact as they are built, so the
  * sinks, the fact's broadcast joins and [[summary]] read one materialised
  * copy of each table instead of recomputing it per consumer.
  */
object Transform {

  val priceCols: Seq[String] = Seq("Price (excl. tax)", "Price (incl. tax)", "Tax")

  private def c(name: String) = col(s"`$name`")

  /** Clean stage (`transformation_pipeline.py:43-48`): currency-strip the
    * three price columns (O15), mojibake-fix the description (O16) via the
    * native Catalyst expression (whole-stage codegen; the UDF variant
    * remains in [[graft.functions.Functions.fixMojibake]]). */
  def clean(df: DataFrame): DataFrame = {
    val priced = priceCols.foldLeft(df)((d, p) => d.withColumn(p, cleanCurrency(c(p))))
    priced.withColumn("Description",
      graft.functions.FixMojibake.fixMojibakeNative(c("Description")))
  }

  /** Derive stage (`transformation_pipeline.py:51-55`): inventory value
    * (O9), binary stock flag (O10), drop the source boolean (O11). */
  def derive(df: DataFrame): DataFrame =
    df.withColumn("Inventory Value", c("Price (excl. tax)") * c("No_of_books_in_Stock"))
      .withColumn("In_Stock_Binary", inStockBinary(c("Is_in_Stock")))
      .drop("Is_in_Stock")

  /** Bin stage (`transformation_pipeline.py:58-63`): fixed stock bins (O12)
    * + exact-quantile price tiers (O13). */
  def bin(df: DataFrame, exactQuantiles: Boolean = true): DataFrame = {
    val stocked = df.withColumn("Stock_Bin", binStock(c("No_of_books_in_Stock")))
    qcut(stocked, c("Price (excl. tax)"), 3,
      Seq("Budget", "Standard", "Premium"), "Price_Tier", exactQuantiles)
  }

  /** Star-schema build (`transformation_pipeline.py:69-117`): 4 dims with
    * dense surrogate keys, fact via 4 broadcast joins — null-safe on
    * `Stock_Bin` (O25) because the fixed bins can emit null.
    *
    * All six returned tables are cached (filled by their first action); the
    * caller owns them and releases them with [[TransformResult.unpersist]]. */
  def buildStar(cleaned: DataFrame): TransformResult = {
    val df = cleaned.cache()
    def dim(keyCols: Seq[String], idCol: String) = Star.buildDim(df, keyCols, idCol).cache()

    val dimBook = dim(Seq("Title", "Description", "UPC", "Product Type", "Image_link"), "book_id")
    val dimCategory = dim(Seq("Category"), "category_id")
    val dimPriceTier = dim(Seq("Price_Tier"), "price_tier_id")
    val dimStockTier = dim(Seq("Stock_Bin"), "stock_tier_id")

    val joined = Star.joinDim(
      Star.joinDim(
        Star.joinDim(
          Star.joinDim(df, dimBook,
            Seq("Title", "Description", "UPC", "Product Type", "Image_link")),
          dimCategory, Seq("Category")),
        dimPriceTier, Seq("Price_Tier")),
      dimStockTier, Seq("Stock_Bin"), nullSafe = true)

    val fact = joined.select(
      col("book_id"), col("category_id"), col("price_tier_id"), col("stock_tier_id"),
      col("Rating"), c("Price (excl. tax)"), c("Price (incl. tax)"), col("Tax"),
      col("No_of_books_in_Stock"), c("Inventory Value"), c("Number of reviews"),
      col("In_Stock_Binary")).cache()

    TransformResult(df, dimBook, dimCategory, dimPriceTier, dimStockTier, fact)
  }

  /** Full pipeline: raw books frame in, star schema out. */
  def run(raw: DataFrame, exactQuantiles: Boolean = true): TransformResult =
    buildStar(bin(derive(clean(raw)), exactQuantiles))

  /** The five summary stats the DAG emails out (`airflow.py:101-107`), as a
    * single-row DataFrame — stays distributed until the driver-side email
    * boundary; no collect here. */
  def summary(star: TransformResult): DataFrame = {
    val factAgg = star.fact.agg(
      count(lit(1)).as("total_books"),
      sum(c("Inventory Value")).as("total_inventory_value"),
      avg(col("Rating")).as("avg_rating"),
      sum(col("In_Stock_Binary")).as("books_in_stock"))
    val catAgg = star.dimCategory.agg(count(lit(1)).as("total_categories"))
    factAgg.crossJoin(broadcast(catAgg)).select(
      col("total_books"), col("total_categories"), col("total_inventory_value"),
      col("avg_rating"), col("books_in_stock"))
  }
}
