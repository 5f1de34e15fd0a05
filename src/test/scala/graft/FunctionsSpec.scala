package graft

import org.apache.spark.sql.functions._

import graft.functions.Functions._

/** Scalar layer: the verified edge semantics from SURVEY.md §2
  * (O10/O12/O13/O15-O19). */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("cleanCurrency strips currency symbols and garbage, casts to double") {
    val out = Seq("£51.77", "Â£45.17", "$1,234.50", "abc", "")
      .toDF("s").select(cleanCurrency($"s").as("v")).collect().map(r => Option(r.get(0)))
    // "$1,234.50" → "1234.50"; "abc"/"" → "" → null after cast
    assert(out.toSeq == Seq(Some(51.77), Some(45.17), Some(1234.50), None, None))
  }

  test("binStock: half-open [lo,hi) bins, null outside — incl. exactly 100000") {
    val out = Seq(0, 9, 10, 17, 18, 99999, 100000, -1)
      .toDF("n").select(binStock($"n").as("b")).collect().map(r => Option(r.getString(0)))
    assert(out.toSeq == Seq(Some("Critical"), Some("Critical"), Some("Low"), Some("Low"),
      Some("Healthy"), Some("Healthy"), None, None))
  }

  test("ratingFromWord maps One..Five with default 0") {
    val out = Seq("One", "Five", "Three", "garbage", null)
      .toDF("w").select(ratingFromWord($"w").as("r")).collect().map(_.getInt(0))
    assert(out.toSeq == Seq(1, 5, 3, 0, 0))
  }

  test("stock parse: availability flag and count from 'In stock (N available)'") {
    val df = Seq("In stock (22 available)", "Out of stock").toDF("s")
    val rows = df.select(stockAvailability($"s").as("a"), stockCount($"s").as("n")).collect()
    assert(rows(0).getBoolean(0) && rows(0).getInt(1) == 22)
    assert(!rows(1).getBoolean(0) && rows(1).isNullAt(1))
  }

  test("inStockBinary: pandas `1 if x == True else 0` — null maps to 0") {
    val out = Seq(Some(true), Some(false), None)
      .toDF("b").select(inStockBinary($"b").as("v")).collect().map(_.getInt(0))
    assert(out.toSeq == Seq(1, 0, 0))
  }

  test("rewriteImageUrl strips ../ and prepends the site prefix") {
    val out = Seq("../../media/cache/ab/cd.jpg").toDF("u")
      .select(rewriteImageUrl($"u")).collect().head.getString(0)
    assert(out == "http://books.toscrape.com/media/cache/ab/cd.jpg")
  }

  test("fixMojibake: cp1252→utf8 round trip repairs Â£-style mojibake") {
    // "£" mis-decoded as cp1252 shows as "Â£"; the round trip restores it
    assert(fixMojibakeImpl("Â£51.77") == "£51.77")
    assert(fixMojibakeImpl("aâ€™b") == "a’b") // â€™ → ’
    assert(fixMojibakeImpl(null) == "")
    assert(fixMojibakeImpl("plain text") == "plain text")
    assert(fixMojibakeImpl("desc ...more") == "desc")
  }

  test("qcut: pandas right-closed intervals, ties at an edge to the LOWER bin") {
    val df = Seq(1, 1, 1, 2, 2, 2, 3, 3, 3).toDF("v")
    val out = qcut(df, $"v", 3, Seq("Budget", "Standard", "Premium"), "tier")
      .groupBy($"tier").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // type-7 edges: q33≈1.67, q66≈2.33 → 1s/2s/3s split cleanly
    assert(out == Map("Budget" -> 3L, "Standard" -> 3L, "Premium" -> 3L))
  }

  test("qcut exact=false (approx_percentile scale path) bins a clean spread identically") {
    val df = (1 to 90).toDF("v")
    val exact = qcut(df, $"v", 3, Seq("lo", "mid", "hi"), "tier")
      .groupBy($"tier").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = qcut(df, $"v", 3, Seq("lo", "mid", "hi"), "tier", exact = false)
      .groupBy($"tier").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact == approx)
    assert(exact.values.sum == 90)
  }

  test("qcut exact=false agrees with exact per-row on tie-heavy data") {
    // 50 distinct values × 120-row tie runs — the q144 shape: tertile
    // targets land interior to tie runs, so the GK sketch's bounded rank
    // error cannot cross a value boundary and the labels must be identical
    val df = spark.range(6000)
      .select(col("id"), ((col("id") % 50) + 1).cast("double").as("v"))
    val ex = qcut(df, $"v", 3, Seq("lo", "mid", "hi"), "tier")
      .select($"id", $"tier".as("t_ex"))
    val ap = qcut(df, $"v", 3, Seq("lo", "mid", "hi"), "tier", exact = false)
      .select($"id", $"tier".as("t_ap"))
    assert(ex.join(ap, "id").where($"t_ex" =!= $"t_ap").count() == 0)
  }

  test("qcut: duplicate-heavy values — every tied value lands in one bin") {
    val df = (Seq.fill(8)(5) ++ Seq(1, 9)).toDF("v")
    val out = qcut(df, $"v", 3, Seq("lo", "mid", "hi"), "tier")
      .where($"v" === 5).select($"tier").distinct().collect()
    assert(out.length == 1) // all 5s in the same tier, never split (≠ ntile)
  }

  test("native vector expressions resolve through the SQL function registry") {
    // same builder lambdas GraftExtensions injects — a SQL-only user's path
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
    val reg = spark.sessionState.functionRegistry
    reg.registerFunction(
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[graft.llm.DotProduct].getName, "dot_product"),
      (c: Seq[Expression]) => graft.llm.DotProduct(c(0), c(1)))
    reg.registerFunction(
      FunctionIdentifier("nearest_cell"),
      new ExpressionInfo(classOf[graft.llm.NearestCell].getName, "nearest_cell"),
      (c: Seq[Expression]) => graft.llm.NearestCell(c(0), c(1), c(2)))
    reg.registerFunction(
      FunctionIdentifier("nearest_code"),
      new ExpressionInfo(classOf[graft.llm.NearestCodeL2].getName, "nearest_code"),
      (c: Seq[Expression]) => graft.llm.NearestCodeL2(c(0), c(1),
        c(2).eval().asInstanceOf[Number].intValue,
        c(3).eval().asInstanceOf[Number].intValue))
    val r = spark.sql(
      """SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |       nearest_cell(array(0.0d, 1.0d),
        |                    array(1.0d, 0.0d, 0.0d, 1.0d),
        |                    array(1.0d, 1.0d)) AS nc,
        |       nearest_code(array(5.0d, 5.0d),
        |                    array(0.0d, 0.0d, 6.0d, 6.0d), 0, 2) AS pc""".stripMargin).head()
    assert(r.getDouble(0) == 11.0)
    assert(r.getInt(1) == 1) // second packed centroid (0,1) is nearest
    assert(r.getInt(2) == 1) // (6,6) is the nearer codebook entry by L2
  }

  test("LitSetOverlap counts set members exactly like size(array_intersect) on distinct arrays") {
    // the q117 gate's replacement contract: on a DISTINCT, null-free array
    // the overlap count equals the intersect size — checked over empty
    // arrays, disjoint/partial/full overlap, non-ascii, and a null array
    val set = Seq("a b", "c d", "é ü", "x y")
    val docs = Seq(
      (1L, Seq("a b", "zz", "c d")), // partial
      (2L, Seq("q", "r")), // disjoint
      (3L, Seq[String]()), // empty
      (4L, Seq("é ü")), // non-ascii member
      (5L, Seq("a b", "c d", "é ü", "x y")), // full
      (6L, null) // null array
    ).toDF("id", "arr")
    val rows = docs.select(col("id"),
        graft.functions.LitSetOverlap.overlapCount(col("arr"), set).as("n"),
        size(array_intersect(col("arr"), typedLit(set))).cast("long").as("ref"))
      .collect()
    val got = rows.map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) -999L else r.getLong(1))).toMap
    assert(got == Map(1L -> 2L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 4L,
      6L -> -999L))
    // and the reference expression agrees wherever it is defined (null
    // array: array_intersect yields null too → size yields -1 under
    // legacy sizeOfNull=false default in Spark 4? read it back as null-safe)
    rows.filter(r => !r.isNullAt(1) && !r.isNullAt(2)).foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"id=${r.getLong(0)}")
    }
  }

  test("LitSetOverlap refuses a set over its size cap") {
    import graft.functions.LitSetOverlap
    val cap = LitSetOverlap.MaxSetSize
    // a set at the cap builds (no plan runs); one entry more fails
    LitSetOverlap.overlapCount(col("arr"), IndexedSeq.fill(cap)("g"))
    val e = intercept[IllegalArgumentException] {
      LitSetOverlap.overlapCount(col("arr"), IndexedSeq.fill(cap + 1)("g"))
    }
    assert(e.getMessage.contains(
      s"LitSetOverlap set has ${cap + 1} entries, over the cap of $cap"))
  }

  test("LitSetOverlap has structural equality: content-equal sets compare equal") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import graft.functions.LitSetOverlap
    val arr = AttributeReference("arr", ArrayType(StringType))()
    // two separately built, content-equal sets in different collections
    val a = LitSetOverlap(arr, Vector("a b", "c d", "é ü"))
    val b = LitSetOverlap(arr, Array("a b", "c d", "é ü").toIndexedSeq)
    assert(a == b)
    assert(a.hashCode == b.hashCode)
    assert(a.semanticEquals(b))
    assert(a.semanticHash() == b.semanticHash())
    assert(a != LitSetOverlap(arr, Vector("a b", "c d")))
  }
}
