package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.Model

/** CSV interchange with name parity (O5–O7): headered CSV round-trips that
  * preserve the reference's column names verbatim — spaces and parentheses
  * included (`extract_pipeline.py:89`, `transformation_pipeline.py:40,66,
  * 74,80,86,92,117`). Reads use the declared schema instead of pandas-style
  * inference, for determinism.
  */
object BooksCsv {

  /** O6 — `books.csv` scan with the explicit 13-field schema. */
  def readRaw(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .schema(Model.rawBooksSchema)
      .csv(path)

  /** Generic headered-CSV scan with schema inference off the table —
    * callers pass a schema'd frame through [[write]] first. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** O5/O7 — headered CSV sink, coalesced to one part for pandas-style
    * single-file parity. */
  def write(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
}
