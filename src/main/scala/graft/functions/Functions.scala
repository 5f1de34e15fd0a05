package graft.functions

import java.nio.charset.{Charset, CodingErrorAction, StandardCharsets}
import java.nio.CharBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar layer: pure `Column` expressions wherever a Catalyst built-in can
  * express the reference semantics (codegen'd, oracle-checkable in SQL);
  * where none can (O16's mojibake fix), a native expression over a Scala
  * impl ([[FixMojibake]] over [[Functions.fixMojibakeImpl]]).
  *
  * Reference semantics (studied, not copied) cite
  * `/root/reference/transformation_pipeline.py` and
  * `/root/reference/extract_pipeline.py` by line.
  */
object Functions {

  /** O15 — currency clean: strip everything but digits and `.`, cast to
    * double. Mirrors `transformation_pipeline.py:5-11` (`re.sub(r'[^\d.]',…)`
    * + `float(...)`). Pure built-in: survives whole-stage codegen and pushes
    * through Catalyst untouched.
    */
  def cleanCurrency(c: Column): Column =
    regexp_replace(c, "[^0-9.]", "").try_cast("double")

  /** O17 — rating word→int lookup with default 0
    * (`extract_pipeline.py:92-94`). A literal-map `element_at` + `coalesce`
    * folds to a constant-time lookup; no UDF.
    */
  private val ratingMap: Column = map(
    lit("One"), lit(1), lit("Two"), lit(2), lit("Three"), lit(3),
    lit("Four"), lit(4), lit("Five"), lit(5))

  def ratingFromWord(c: Column): Column =
    coalesce(element_at(ratingMap, c), lit(0))

  /** O18 — stock-string availability: the prefix before `(` contains
    * "In stock" (`extract_pipeline.py:29`). */
  def stockAvailability(c: Column): Column =
    trim(split(c, "\\(").getItem(0)).contains("In stock")

  /** O18 — stock-string count: the integer inside `(N available)`
    * (`extract_pipeline.py:30`, happy path). */
  def stockCount(c: Column): Column =
    regexp_extract(c, "\\((\\d+) available\\)", 1).try_cast("int")

  /** O10 — boolean→binary with pandas `1 if x == True else 0` semantics
    * (`transformation_pipeline.py:54`): null maps to 0, not null. */
  def inStockBinary(c: Column): Column =
    when(c === lit(true), lit(1)).otherwise(lit(0))

  /** O12 — generic fixed-edge binning, `pd.cut(..., right=False)` semantics
    * (`transformation_pipeline.py:58-60`): half-open `[lo, hi)` intervals,
    * anything outside every interval (including exactly the last edge) is
    * null. Compiles to a `when`-chain: pure expression, SQL-expressible.
    */
  def binFixed(c: Column, edges: Seq[Double], labels: Seq[String]): Column = {
    require(edges.length == labels.length + 1, "need one more edge than label")
    labels.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, (label, i)) =>
        when(c >= edges(i) && c < edges(i + 1), label).otherwise(acc)
    }
  }

  /** O12 — the reference's concrete stock bins `[0,10,18,100000)` →
    * Critical / Low / Healthy, null overflow. */
  def binStock(c: Column): Column =
    binFixed(c, Seq(0, 10, 18, 100000), Seq("Critical", "Low", "Healthy"))

  /** O13 — quantile binning (`pd.qcut(col, q, labels)`,
    * `transformation_pipeline.py:63`). pandas computes exact type-7
    * (linear-interpolation) quantiles and right-closed intervals, so ties at
    * an edge land in the LOWER bin — a `<=` when-chain over exact
    * `percentile` cut points reproduces that; `ntile` does not.
    *
    * Implementation is a 1-row exact-percentile aggregate broadcast back
    * onto the data (a broadcast nested-loop join of a single row — no
    * driver-side collect, scale-safe). At 100 TB flip `exact=false` to use
    * `approx_percentile` and avoid the global sort-based aggregate.
    */
  def qcut(df: DataFrame, value: Column, q: Int, labels: Seq[String],
           outName: String, exact: Boolean = true): DataFrame = {
    require(labels.length == q, "one label per quantile bin")
    val probs = (1 until q).map(_.toDouble / q)
    val cutCols = probs.zipWithIndex.map { case (p, i) =>
      val agg = if (exact) percentile(value, lit(p))
                else percentile_approx(value, lit(p), lit(100000))
      agg.as(s"__cut$i")
    }
    val cuts = df.agg(cutCols.head, cutCols.tail: _*)
    val tier = (0 until q - 1).foldRight(lit(labels.last)) { (i, acc) =>
      when(value <= col(s"__cut$i"), labels(i)).otherwise(acc)
    }
    df.crossJoin(broadcast(cuts))
      .withColumn(outName, tier)
      .drop((0 until q - 1).map(i => s"__cut$i"): _*)
  }

  /** O19 — image-URL rewrite: site prefix + `replace("../", "")`
    * (`extract_pipeline.py:13`). */
  def rewriteImageUrl(c: Column, prefix: String = "http://books.toscrape.com/"): Column =
    concat(lit(prefix), regexp_replace(c, "\\.\\./", ""))

  /** O16 — description clean (`transformation_pipeline.py:14-25`):
    * null → "", strip the " ...more" suffix, then fix mojibake by a
    * cp1252-encode / utf8-decode round trip with IGNORE on both malformed
    * input and unmappable characters (matches Python's `errors="ignore"`
    * on both sides). Not expressible in Catalyst built-ins, so the
    * [[FixMojibake]] expression calls this impl from its generated code.
    *
    * Known fidelity edge: Java's windows-1252 maps the five bytes
    * 0x81/0x8D/0x8F/0x90/0x9D to C1 controls while Python's cp1252 treats
    * them as unmappable; only affects those exact code points.
    */
  def fixMojibakeImpl(text: String): String = {
    if (text == null) return ""
    val t = text.replace(" ...more", "")
    val encoder = Charset.forName("windows-1252").newEncoder()
      .onMalformedInput(CodingErrorAction.IGNORE)
      .onUnmappableCharacter(CodingErrorAction.IGNORE)
    val bytes = encoder.encode(CharBuffer.wrap(t))
    val decoder = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.IGNORE)
      .onUnmappableCharacter(CodingErrorAction.IGNORE)
    decoder.decode(bytes).toString
  }
}
