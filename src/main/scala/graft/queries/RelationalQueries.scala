package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Functions._
import graft.io.Tables
import graft.operators.BloomPrefilter
import graft.transform.Star

/** Named, oracle-checked queries exercising the reference's relational
  * operator inventory (SURVEY.md §2) over the driver's TPC-H-ish testdata.
  * Each `q<N>_<name>` query has a DuckDB-equivalent `q<N>_sql` with IDENTICAL
  * output column names and an explicit ORDER BY, so the driver's
  * row/schema/hash compare is deterministic.
  *
  * Cross-engine determinism rules used throughout:
  *  - double SUMs go through `DECIMAL(18,s)` (order-independent exact
  *    accumulation) and come back out as DOUBLE;
  *  - COUNT-like outputs are BIGINT on both sides (DuckDB `sum(int)` would
  *    otherwise be HUGEINT);
  *  - surrogate keys are BIGINT on both sides;
  *  - ORDER BY uses NULLS FIRST explicitly (Spark's ASC default).
  */
object RelationalQueries extends Registry {

  /** Exact decimal-accumulated sum of a double expression, surfaced as
    * double: identical across engines regardless of partial-agg order. */
  private[queries] def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")


  // ---------------------------------------------------------------- O28-O31
  /** Global summary aggregates — the five email stats re-expressed over
    * lineitem (`airflow.py:101-107` shape: count, distinct-count, sum, mean,
    * sum-of-flag). */
  val q01_summary: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    li.agg(
      count(lit(1)).as("total_rows"),
      countDistinct(col("l_returnflag")).as("n_flags"),
      dsum(col("l_extendedprice")).as("sum_price"),
      (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
      sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("returned_rows"))
  }

  val q01_sql: String =
    """SELECT count(*) AS total_rows,
      |       count(DISTINCT l_returnflag) AS n_flags,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty,
      |       CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS returned_rows
      |FROM lineitem""".stripMargin


  // ------------------------------------------------------------- O28-O32 ish
  /** Grouped pricing summary (TPC-H Q1 shape) — the flagship aggregation;
    * map-side partial aggregation then a 6-group shuffle. */
  val q02_pricing_summary: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q02_sql: String =
    """SELECT l_returnflag, l_linestatus,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
      |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
      |       count(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin


  // ------------------------------------------------------------- O9/O10/O11
  /** Per-row derived columns: arithmetic derive (inventory-value shape),
    * boolean→binary flag, and a column drop (source cols not projected). */
  val q03_derived: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    li.select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * col("l_quantity")).as("line_value"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("returned_flag"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  val q03_sql: String =
    """SELECT l_orderkey, l_linenumber,
      |       l_extendedprice * l_quantity AS line_value,
      |       CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS BIGINT) AS returned_flag
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin


  // ------------------------------------------------------------------- O12
  /** Fixed-edge binning, pd.cut(right=False) semantics: half-open bins over
    * l_quantity with a deliberate out-of-range→null band (qty ≥ 40). */
  val q04_fixed_bins: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    li.withColumn("stock_bin",
        binFixed(col("l_quantity"), Seq(1, 10, 25, 40), Seq("Critical", "Low", "Healthy")))
      .groupBy(col("stock_bin"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("stock_bin").asc_nulls_first)
  }

  val q04_sql: String =
    """SELECT CASE WHEN l_quantity >= 1 AND l_quantity < 10 THEN 'Critical'
      |            WHEN l_quantity >= 10 AND l_quantity < 25 THEN 'Low'
      |            WHEN l_quantity >= 25 AND l_quantity < 40 THEN 'Healthy'
      |       END AS stock_bin,
      |       count(*) AS n,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY 1 ORDER BY stock_bin ASC NULLS FIRST""".stripMargin


  // ------------------------------------------------------------------- O13
  /** Quantile binning (pd.qcut q=3): exact percentile cut points broadcast
    * back over the data; right-closed intervals, ties to the lower bin. */
  val q05_quantile_bins: Q = (s, d) => {
    val pt = Tables.part(s, d)
    qcut(pt, col("p_retailprice"), 3, Seq("Budget", "Standard", "Premium"), "price_tier")
      .groupBy(col("price_tier"))
      .agg(count(lit(1)).as("n"),
           min(col("p_retailprice")).as("min_price"),
           max(col("p_retailprice")).as("max_price"))
      .orderBy(col("price_tier"))
  }

  val q05_sql: String =
    """WITH cuts AS (
      |  SELECT quantile_cont(p_retailprice, 1.0/3) AS q33,
      |         quantile_cont(p_retailprice, 2.0/3) AS q66
      |  FROM part)
      |SELECT CASE WHEN p_retailprice <= q33 THEN 'Budget'
      |            WHEN p_retailprice <= q66 THEN 'Standard'
      |            ELSE 'Premium' END AS price_tier,
      |       count(*) AS n, min(p_retailprice) AS min_price, max(p_retailprice) AS max_price
      |FROM part, cuts GROUP BY 1 ORDER BY price_tier""".stripMargin


  /** The APPROX-quantile path of qcut (`exact=false`,
    * `percentile_approx`) — the 100 TB mode, which avoids q05's global
    * sort-based exact percentile. Oracle-checkable because the binning
    * column is tie-heavy (l_quantity: 50 distinct values over 60k+ rows,
    * ~1.2k-row tie runs at sf0.01) and the tertile target ranks fall
    * INTERIOR to tie runs at every tested SF — so Spark's GK-sketch
    * discrete percentile and DuckDB's `quantile_disc` must return the
    * same element regardless of their (differing) rank conventions, and
    * the sketch's ≤ n/accuracy rank error cannot cross a value boundary.
    * Quartiles would NOT be safe here: rank n/2 is exactly the last
    * element of a tie run. */
  val q144_qcut_approx: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    qcut(li, col("l_quantity"), 3, Seq("Low", "Mid", "High"), "qty_tier",
        exact = false)
      .groupBy(col("qty_tier"))
      .agg(count(lit(1)).as("n"),
           min(col("l_quantity")).as("min_qty"),
           max(col("l_quantity")).as("max_qty"))
      .orderBy(col("qty_tier"))
  }

  val q144_sql: String =
    """WITH cuts AS (
      |  SELECT quantile_disc(l_quantity, 1.0/3) AS c0,
      |         quantile_disc(l_quantity, 2.0/3) AS c1
      |  FROM lineitem)
      |SELECT CASE WHEN l_quantity <= c0 THEN 'Low'
      |            WHEN l_quantity <= c1 THEN 'Mid'
      |            ELSE 'High' END AS qty_tier,
      |       count(*) AS n, min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
      |FROM lineitem, cuts GROUP BY 1 ORDER BY qty_tier""".stripMargin


  // ------------------------------------------------------------------- O15
  /** Currency clean round-trip: render a £-price string, strip non-numerics,
    * cast back to double (`transformation_pipeline.py:5-11` semantics). */
  val q06_currency_clean: Q = (s, d) => {
    val pt = Tables.part(s, d)
    pt.select(col("p_partkey"),
        cleanCurrency(format_string("£%.2f", col("p_retailprice"))).as("clean_price"))
      .orderBy(col("p_partkey"))
  }

  val q06_sql: String =
    """SELECT p_partkey,
      |       CAST(regexp_replace(printf('£%.2f', p_retailprice), '[^0-9.]', '', 'g') AS DOUBLE) AS clean_price
      |FROM part ORDER BY p_partkey""".stripMargin


  // ------------------------------------------------------------------- O17
  /** Literal-map word→int lookup with default 0 (rating-word shape,
    * `extract_pipeline.py:92-94`) over order priorities. */
  val q07_word_map: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val priorityMap = map(
      lit("1-URGENT"), lit(1), lit("2-HIGH"), lit(2), lit("3-MEDIUM"), lit(3))
    o.select(col("o_orderpriority"),
        coalesce(element_at(priorityMap, col("o_orderpriority")), lit(0)).as("priority_code"))
      .groupBy(col("o_orderpriority"), col("priority_code"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))
  }

  val q07_sql: String =
    """SELECT o_orderpriority,
      |       CASE o_orderpriority WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2
      |            WHEN '3-MEDIUM' THEN 3 ELSE 0 END AS priority_code,
      |       count(*) AS n
      |FROM orders GROUP BY 1, 2 ORDER BY o_orderpriority""".stripMargin


  // ------------------------------------------------------------------- O18
  /** Stock-string parse: build "In stock (N available)" and parse it back
    * (`extract_pipeline.py:28-33` happy path). */
  val q08_stock_parse: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val stockStr = concat(lit("In stock ("),
      floor(col("l_quantity")).cast("long").cast("string"), lit(" available)"))
    li.select(col("l_orderkey"), col("l_linenumber"),
        stockAvailability(stockStr).as("in_stock"),
        stockCount(stockStr).as("n_available"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  val q08_sql: String =
    """SELECT l_orderkey, l_linenumber,
      |       contains(trim(str_split(stock_str, '(')[1]), 'In stock') AS in_stock,
      |       CAST(regexp_extract(stock_str, '\((\d+) available\)', 1) AS INT) AS n_available
      |FROM (SELECT *, 'In stock (' || CAST(CAST(floor(l_quantity) AS BIGINT) AS VARCHAR) || ' available)' AS stock_str
      |      FROM lineitem)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin


  // ------------------------------------------------------------------- O19
  /** URL rewrite: strip `../` path-escapes and prepend the site prefix
    * (`extract_pipeline.py:13`). */
  val q09_url_rewrite: Q = (s, d) => {
    val pt = Tables.part(s, d)
    val rel = concat(lit("../../img/"), col("p_partkey").cast("string"), lit(".jpg"))
    pt.select(col("p_partkey"), rewriteImageUrl(rel).as("image_url"))
      .orderBy(col("p_partkey"))
  }

  val q09_sql: String =
    """SELECT p_partkey,
      |       'http://books.toscrape.com/' || regexp_replace('../../img/' || CAST(p_partkey AS VARCHAR) || '.jpg', '\.\./', '', 'g') AS image_url
      |FROM part ORDER BY p_partkey""".stripMargin


  // ------------------------------------------- O22-O27: full star-schema build
  /** Star schema over lineitem: a composite-key dim and an FK-sourced brand
    * dim, dense surrogate keys, broadcast joins, fact aggregated by ids. */
  val q10_star_schema: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val pt = Tables.part(s, d)
    val dimShip = Star.buildDim(li, Seq("l_returnflag", "l_linestatus"), "ship_id")
    val dimBrand = Star.buildDim(pt, Seq("p_brand"), "brand_id")
    val withBrand = li.join(
      pt.select(col("p_partkey").as("l_partkey"), col("p_brand")), Seq("l_partkey"))
    val fact = Star.joinDim(
      Star.joinDim(withBrand, dimShip, Seq("l_returnflag", "l_linestatus")),
      dimBrand, Seq("p_brand"))
    fact.groupBy(col("ship_id"), col("brand_id"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("ship_id"), col("brand_id"))
  }

  val q10_sql: String =
    """WITH dim_ship AS (
      |  SELECT l_returnflag, l_linestatus,
      |         row_number() OVER (ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST) AS ship_id
      |  FROM (SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem)),
      |dim_brand AS (
      |  SELECT p_brand, row_number() OVER (ORDER BY p_brand ASC NULLS FIRST) AS brand_id
      |  FROM (SELECT DISTINCT p_brand FROM part))
      |SELECT ship_id, brand_id, count(*) AS n,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem l
      |JOIN part p ON l.l_partkey = p.p_partkey
      |JOIN dim_ship USING (l_returnflag, l_linestatus)
      |JOIN dim_brand USING (p_brand)
      |GROUP BY ship_id, brand_id ORDER BY ship_id, brand_id""".stripMargin


  // ------------------------------------------------------------------- O25
  /** Null-safe dim join (`<=>` / IS NOT DISTINCT FROM): a nullable key still
    * joins to the dim's null row — pandas NaN==NaN merge semantics. */
  val q11_nullsafe_join: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val keyed = li.withColumn("flag_key", nullif(col("l_returnflag"), lit("N")))
    val dim = Star.buildDim(keyed, Seq("flag_key"), "flag_id")
    Star.joinDim(keyed, dim, Seq("flag_key"), nullSafe = true)
      .groupBy(col("flag_id"), col("flag_key"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("flag_id"))
  }

  val q11_sql: String =
    """WITH keyed AS (SELECT *, nullif(l_returnflag, 'N') AS flag_key FROM lineitem),
      |dim AS (SELECT flag_key, row_number() OVER (ORDER BY flag_key ASC NULLS FIRST) AS flag_id
      |        FROM (SELECT DISTINCT flag_key FROM keyed))
      |SELECT flag_id, dim.flag_key, count(*) AS n
      |FROM keyed JOIN dim ON keyed.flag_key IS NOT DISTINCT FROM dim.flag_key
      |GROUP BY 1, 2 ORDER BY flag_id""".stripMargin


  // ------------------------------------------------------------------- O26
  /** Multi-column distinct (dim extraction shape). */
  val q12_distinct: Q = (s, d) => {
    val o = Tables.orders(s, d)
    o.select(col("o_orderstatus"), col("o_orderpriority")).distinct()
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))
  }

  val q12_sql: String =
    """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin


  // ------------------------------------------------------------------- O27
  /** Dense 1..N surrogate keys over a distinct natural key. */
  val q13_surrogate_keys: Q = (s, d) => {
    val c = Tables.customer(s, d)
    Star.buildDim(c, Seq("c_mktsegment"), "segment_id")
      .orderBy(col("segment_id"))
  }

  val q13_sql: String =
    """SELECT c_mktsegment, row_number() OVER (ORDER BY c_mktsegment ASC NULLS FIRST) AS segment_id
      |FROM (SELECT DISTINCT c_mktsegment FROM customer) ORDER BY segment_id""".stripMargin


  // ------------------------------------------------------------------- O32
  /** Exact percentiles (sort-based aggregate; approx variant exists behind
    * the qcut flag for 100 TB). */
  val q14_exact_quantiles: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    // ONE percentile aggregate with an array of percentages: a single
    // sort/buffer pass instead of three independent full buffers (measured
    // ~3× on the exact path; the approx escape stays qcut(exact=false))
    li.agg(percentile(col("l_extendedprice"),
        array(lit(0.25), lit(0.5), lit(0.75))).as("__ps"))
      .select(
        element_at(col("__ps"), 1).as("p25"),
        element_at(col("__ps"), 2).as("p50"),
        element_at(col("__ps"), 3).as("p75"))
  }

  val q14_sql: String =
    """SELECT quantile_cont(l_extendedprice, 0.25) AS p25,
      |       quantile_cont(l_extendedprice, 0.5) AS p50,
      |       quantile_cont(l_extendedprice, 0.75) AS p75
      |FROM lineitem""".stripMargin


  // ------------------------------------------------------------------- O33
  /** Deterministic top-20 (order + limit). */
  val q15_top20: Q = (s, d) => {
    val o = Tables.orders(s, d)
    o.select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
  }

  val q15_sql: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin


  // ----------------------------------------------------------- O22-O24 joins
  /** Multi-table FK join chain with broadcast dims: revenue per nation. */
  val q16_join_multi: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_rows"),
           dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("revenue"))
      .orderBy(col("r_name"), col("n_name"))
  }

  val q16_sql: String =
    """SELECT r_name, n_name, count(*) AS n_rows,
      |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin


  // ------------------------------------------------------------------ rollup
  /** Hierarchical subtotals via ROLLUP (region → nation → grand total). */
  val q34_rollup: Q = (s, d) => {
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    val c = Tables.customer(s, d)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("sum_acctbal"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  val q34_sql: String =
    """SELECT r_name, n_name, count(*) AS n_customers,
      |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin


  // ------------------------------------------------------------ JSON columns
  /** Semi-structured props: extract a JSON field, aggregate by it — the
    * engine's JSON-function surface (`get_json_object` pushes through
    * codegen; no UDF). */
  val q36_json_props: Q = (s, d) => {
    val e = Tables.events(s, d)
    e.select(col("event_type"),
        expr("try_cast(get_json_object(props, '$.k') as long)").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("k")).as("sum_k"),
           min(col("k")).as("min_k"),
           max(col("k")).as("max_k"))
      .orderBy(col("event_type"))
  }

  val q36_sql: String =
    """SELECT event_type, count(*) AS n,
      |       CAST(sum(TRY_CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |       min(TRY_CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
      |       max(TRY_CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin


  // ----------------------------------------------------- filter + aggregate
  /** Pure predicate pushdown path (TPC-H Q6 shape): range filters reach the
    * parquet scan (`PushedFilters`), then one global aggregate. */
  val q37_filtered_agg: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    li.where(col("l_quantity") < 24 && col("l_discount") >= 0.05 &&
             col("l_discount") <= 0.07)
      .agg(dsum(col("l_extendedprice") * col("l_discount"), 6).as("revenue"),
           count(lit(1)).as("n"))
  }

  val q37_sql: String =
    """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      |       count(*) AS n
      |FROM lineitem
      |WHERE l_quantity < 24 AND l_discount >= 0.05 AND l_discount <= 0.07""".stripMargin


  // ------------------------------------------------------------- semi / anti
  /** Left-semi join: customers with at least one urgent order — EXISTS
    * without materializing the right side's columns. */
  val q38_semi_join: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    c.join(o.where(col("o_orderpriority") === "1-URGENT"),
        c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))
  }

  val q38_sql: String =
    """SELECT c_mktsegment, count(*) AS n_customers
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin


  /** Left-anti join: customers with no orders at all (NOT EXISTS). */
  val q39_anti_join: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))
  }

  val q39_sql: String =
    """SELECT c_mktsegment, count(*) AS n_customers
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin


  // ------------------------------------------------------------- outer join
  /** Left-outer join with null-aware aggregation: every nation, including
    * those with zero suppliers. */
  val q40_outer_join: Q = (s, d) => {
    val n = Tables.nation(s, d)
    val su = Tables.supplier(s, d)
    n.join(su, n("n_nationkey") === su("s_nationkey"), "left_outer")
      .groupBy(col("n_name"))
      .agg(count(col("s_suppkey")).as("n_suppliers"),
           dsum(coalesce(col("s_acctbal"), lit(0.0))).as("sum_acctbal"))
      .orderBy(col("n_name"))
  }

  val q40_sql: String =
    """SELECT n_name, count(s_suppkey) AS n_suppliers,
      |       CAST(sum(CAST(coalesce(s_acctbal, 0.0) AS DECIMAL(18,4))) AS DOUBLE) AS sum_acctbal
      |FROM nation LEFT JOIN supplier ON n_nationkey = s_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin


  // ---------------------------------------------------------------- set ops
  /** Set operations: nations that appear as customer homes, supplier homes,
    * both (INTERSECT), or customers-only (EXCEPT), unioned with tags. */
  val q41_set_ops: Q = (s, d) => {
    val c = Tables.customer(s, d).select(col("c_nationkey").as("nk"))
    val su = Tables.supplier(s, d).select(col("s_nationkey").as("nk"))
    val both = c.intersect(su).select(lit("both").as("src"), col("nk"))
    val custOnly = c.distinct().except(su.distinct())
      .select(lit("customer_only").as("src"), col("nk"))
    both.union(custOnly)
      .orderBy(col("src"), col("nk"))
  }

  val q41_sql: String =
    """SELECT 'both' AS src, nk FROM (
      |  SELECT c_nationkey AS nk FROM customer
      |  INTERSECT SELECT s_nationkey FROM supplier)
      |UNION ALL
      |SELECT 'customer_only' AS src, nk FROM (
      |  SELECT DISTINCT c_nationkey AS nk FROM customer
      |  EXCEPT SELECT DISTINCT s_nationkey FROM supplier)
      |ORDER BY src, nk""".stripMargin


  // -------------------------------------------------------- scalar subquery
  /** Orders above the global average price, counted per priority — the
    * scalar-subquery shape. The 1-row aggregate broadcasts back over the
    * scan (same pattern as qcut's cut points: no collect, no second pass
    * dependency). */
  val q42_scalar_subquery: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val avgPrice = o.agg(avg(col("o_totalprice")).as("__avg"))
    o.crossJoin(broadcast(avgPrice))
      .where(col("o_totalprice") > col("__avg"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_above_avg"))
      .orderBy(col("o_orderpriority"))
  }

  val q42_sql: String =
    """SELECT o_orderpriority, count(*) AS n_above_avg
      |FROM orders
      |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin


  // -------------------------------------------------------------------- cube
  /** CUBE over (status, priority): all four grouping combinations. */
  val q43_cube: Q = (s, d) => {
    val o = Tables.orders(s, d)
    o.cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
  }

  val q43_sql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin


  // ------------------------------------------------------------------- pivot
  /** Pivot order status into columns per priority (fixed value list keeps
    * the schema static — at scale an unlisted pivot needs a distinct pass). */
  val q44_pivot: Q = (s, d) => {
    val o = Tables.orders(s, d)
    o.groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(col("o_orderpriority"),
        col("F").cast("long").as("n_f"),
        col("O").cast("long").as("n_o"),
        col("P").cast("long").as("n_p"))
      .orderBy(col("o_orderpriority"))
  }

  val q44_sql: String =
    """SELECT o_orderpriority,
      |       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
      |       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
      |       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin


  // ----------------------------------------------------- ordered aggregation
  /** Deterministic collection aggregate: sorted region names per nation
    * group joined to a string (sorted → order-independent across engines). */
  val q45_collect_sorted: Q = (s, d) => {
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"),
           count(lit(1)).as("n_nations"))
      .orderBy(col("r_name"))
  }

  val q45_sql: String =
    """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
      |       count(*) AS n_nations
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin


  // ----------------------------------------------------------- grouping sets
  /** Explicit GROUPING SETS — independent subtotals by status and by
    * priority plus the grand total, in one pass. */
  val q46_grouping_sets: Q = (s, d) => {
    val o = Tables.orders(s, d)
    o.groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
  }

  val q46_sql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin


  // ------------------------------------------------------------- date funcs
  /** Calendar aggregation: monthly order revenue (date_trunc + format). */
  val q47_monthly_revenue: Q = (s, d) => {
    val o = Tables.orders(s, d)
    o.groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy(col("month"))
  }

  val q47_sql: String =
    """SELECT strftime(o_orderdate, '%Y-%m') AS month,
      |       count(*) AS n_orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM orders GROUP BY 1 ORDER BY month""".stripMargin


  // -------------------------------------------------------------- word count
  /** The classic distributed word count (explode → groupBy), over part
    * names; deterministic top-20. */
  val q48_word_count: Q = (s, d) => {
    val pt = Tables.part(s, d)
    pt.select(explode(split(col("p_name"), " ")).as("word"))
      .where(col("word") =!= "")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(20)
  }

  val q48_sql: String =
    """SELECT word, count(*) AS n FROM (
      |  SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
      |WHERE word <> '' GROUP BY word
      |ORDER BY n DESC, word LIMIT 20""".stripMargin


  // ------------------------------------------------------------- as-of join
  /** Attribution as-of join: every click annotated with the user's most
    * recent prior (or simultaneous) view — `operators.AsOfJoin`'s
    * union+window sweep (one shuffle, no range explosion). DuckDB oracle
    * uses its native ASOF JOIN. */
  val q49_asof_attribution: Q = (s, d) => {
    import graft.operators.AsOfJoin
    val e = Tables.events(s, d)
    val clicks = e.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
    val views = e.where(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_id"))
    AsOfJoin.asOf(clicks, views, Seq("user_id"), "ts", "view_ts", Seq("view_id"))
      .select(col("user_id"), col("click_id"), col("view_id"))
      .orderBy(col("user_id"), col("click_id"))
  }

  val q49_sql: String =
    """SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |ASOF JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |  ON c.user_id = v.user_id AND v.ts <= c.ts
      |ORDER BY c.user_id, click_id""".stripMargin


  /** Forward as-of: every view annotated with the user's NEAREST FOLLOWING
    * purchase — [[graft.operators.AsOfJoin]]'s same one-shuffle sweep run
    * in reverse time order (`forward = true`). DuckDB oracle is its native
    * ASOF JOIN with the `>=` condition. */
  val q81_asof_forward: Q = (s, d) => {
    import graft.operators.AsOfJoin
    val e = Tables.events(s, d)
    val views = e.where(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id").as("view_id"))
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
    AsOfJoin.asOf(views, purchases, Seq("user_id"), "ts", "p_ts",
        Seq("purchase_id"), forward = true)
      .select(col("user_id"), col("view_id"), col("purchase_id"))
      .orderBy(col("user_id"), col("view_id"))
  }

  val q81_sql: String =
    """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id
      |FROM (SELECT * FROM events WHERE event_type = 'view') v
      |ASOF JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON v.user_id = p.user_id AND p.ts >= v.ts
      |ORDER BY v.user_id, view_id""".stripMargin


  // ------------------------------------------------------------- range join
  /** Bounded time-range self-join: per error event, how many clicks the
    * same user made in the preceding 5 minutes. Key equality makes this a
    * hash join with a range residual — never a cross product. */
  val q50_range_join: Q = (s, d) => {
    val e = Tables.events(s, d)
    val errors = e.where(col("event_type") === "error")
      .select(col("user_id"), col("ts").as("err_ts"), col("event_id").as("err_id"))
    val clicks = e.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    errors.join(clicks,
        col("user_id") === col("c_user") &&
          col("click_ts") >= col("err_ts") - expr("INTERVAL 5 MINUTES") &&
          col("click_ts") < col("err_ts"),
        "inner")
      .groupBy(col("err_id"))
      .agg(count(lit(1)).as("n_recent_clicks"))
      .orderBy(col("err_id"))
  }

  val q50_sql: String =
    """SELECT e.event_id AS err_id, count(*) AS n_recent_clicks
      |FROM (SELECT * FROM events WHERE event_type = 'error') e
      |JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON e.user_id = c.user_id
      | AND c.ts >= e.ts - INTERVAL 5 MINUTE AND c.ts < e.ts
      |GROUP BY err_id ORDER BY err_id""".stripMargin


  // ----------------------------------------------------------- salted join
  /** [[graft.operators.Skew.saltedJoin]] exercised end-to-end against the
    * same oracle a plain join would use: lineitem joins a 3-row dim on
    * l_returnflag — a deliberately hot key (3 distinct values over the whole
    * fact table). The salt spreads each hot key over 16 reducers; the
    * aggregate result is bit-identical to the unsalted plan. */
  val q60_salted_join: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val dim = Star.buildDim(li, Seq("l_returnflag"), "flag_id")
    graft.operators.Skew.saltedJoin(li, dim, Seq("l_returnflag"))
      .groupBy(col("flag_id"), col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("flag_id"))
  }

  val q60_sql: String =
    """WITH dim AS (
      |  SELECT l_returnflag, row_number() OVER (ORDER BY l_returnflag ASC NULLS FIRST) AS flag_id
      |  FROM (SELECT DISTINCT l_returnflag FROM lineitem))
      |SELECT flag_id, l_returnflag, count(*) AS n,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN dim USING (l_returnflag)
      |GROUP BY flag_id, l_returnflag ORDER BY flag_id""".stripMargin


  // ------------------------------------------- format round-trips
  /** JSON-lines sink → scan round-trip: write the documents table as JSON
    * to session scratch, read it back under the explicit schema, and
    * aggregate per language — counts, exact char sums, id range, and a
    * 32-bit-md5-prefix content checksum. The oracle computes the same
    * aggregates from the ORIGINAL parquet, so a green row certifies the
    * JSON writer/reader pair is byte-faithful (escaping included) — the
    * interchange format every ingest pipeline meets. Distributed shape:
    * the write is one parallel sink job, the read a parallel scan; the
    * only shuffle is the final tiny groupBy. */
  val q93_json_roundtrip: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    val out = graft.io.Scratch.dir("json_rt_")
    docs.write.mode("overwrite").json(out)
    s.read.schema(docs.schema).json(out)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(length(col("text")).cast("long")).as("sum_text_len"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"),
        sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long")).as("text_checksum"))
      .orderBy(col("lang"))
  }

  val q93_sql: String =
    """SELECT lang, count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |       CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
      |       min(doc_id) AS min_id, max(doc_id) AS max_id,
      |       CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS text_checksum
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin


  /** ORC sink → scan round-trip, same contract as [[q93_json_roundtrip]]
    * but for the columnar interchange format — and deliberately including
    * a TIMESTAMP column (l_shipdate) in the grouping key derivation, the
    * type most prone to cross-format drift. Green row = ORC writer/reader
    * preserve doubles and timestamps exactly. */
  val q94_orc_roundtrip: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_returnflag"), col("l_shipdate"))
    val out = graft.io.Scratch.dir("orc_rt_")
    li.write.mode("overwrite").orc(out)
    s.read.orc(out)
      .groupBy(col("l_returnflag"), year(col("l_shipdate")).cast("int").as("ship_year"))
      .agg(count(lit(1)).as("n_lines"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("sum_revenue"),
        min(col("l_orderkey")).as("min_order"),
        max(col("l_orderkey")).as("max_order"))
      .orderBy(col("l_returnflag"), col("ship_year"))
  }

  val q94_sql: String =
    """SELECT l_returnflag, CAST(year(l_shipdate) AS INT) AS ship_year,
      |       count(*) AS n_lines,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_revenue,
      |       min(l_orderkey) AS min_order, max(l_orderkey) AS max_order
      |FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, ship_year""".stripMargin


  /** SCD type-2 merge ([[graft.operators.Scd2]]): a versioned customer
    * dimension (some keys carrying closed history rows) absorbs a change
    * batch of updates (keys ≡ 0 mod 7: re-rated balance) and inserts
    * (fresh keys). One key-join + union — no window, no driver state; the
    * oracle replays the identical merge relationally. Green row = closed
    * history untouched, affected open rows closed at the effective date,
    * new versions open. */
  val q96_scd2_merge: Q = (s, d) => {
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val closedHist = c.where(col("c_custkey") % 5 === 0)
      .select(col("c_custkey"), col("c_name"),
        (col("c_acctbal") - 50.0).as("c_acctbal"),
        lit("1992-01-01").cast("date").as("valid_from"),
        lit("1994-01-01").cast("date").as("valid_to"))
    val open = c.select(col("c_custkey"), col("c_name"), col("c_acctbal"),
      when(col("c_custkey") % 5 === 0, lit("1994-01-01").cast("date"))
        .otherwise(lit("1992-01-01").cast("date")).as("valid_from"),
      lit(null).cast("date").as("valid_to"))
    val dim = closedHist.unionByName(open)
    val changes = c.where(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"), col("c_name"),
        (col("c_acctbal") + 100.0).as("c_acctbal"),
        lit("1995-06-17").cast("date").as("effective"))
      .unionByName(c.where(col("c_custkey") % 97 === 3)
        .select((col("c_custkey") + 1000000L).as("c_custkey"), col("c_name"),
          col("c_acctbal"),
          lit("1995-06-17").cast("date").as("effective")))
    graft.operators.Scd2.merge(dim, changes, "c_custkey")
      .orderBy(col("c_custkey"), col("valid_from"))
  }

  val q96_sql: String =
    """WITH c AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
      |dim AS (
      |  SELECT c_custkey, c_name, c_acctbal - 50.0 AS c_acctbal,
      |         DATE '1992-01-01' AS valid_from, DATE '1994-01-01' AS valid_to
      |  FROM c WHERE c_custkey % 5 = 0
      |  UNION ALL
      |  SELECT c_custkey, c_name, c_acctbal,
      |         CASE WHEN c_custkey % 5 = 0 THEN DATE '1994-01-01' ELSE DATE '1992-01-01' END,
      |         NULL
      |  FROM c),
      |chg AS (
      |  SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal, DATE '1995-06-17' AS eff
      |  FROM c WHERE c_custkey % 7 = 0
      |  UNION ALL
      |  SELECT c_custkey + 1000000, c_name, c_acctbal, DATE '1995-06-17'
      |  FROM c WHERE c_custkey % 97 = 3),
      |merged AS (
      |  SELECT d.c_custkey, d.c_name, d.c_acctbal, d.valid_from,
      |         CASE WHEN d.valid_to IS NULL AND ch.c_custkey IS NOT NULL
      |              THEN ch.eff ELSE d.valid_to END AS valid_to
      |  FROM dim d LEFT JOIN chg ch ON d.c_custkey = ch.c_custkey
      |  UNION ALL
      |  SELECT c_custkey, c_name, c_acctbal, eff, NULL FROM chg)
      |SELECT * FROM merged ORDER BY c_custkey, valid_from""".stripMargin


  /** Z-order layout as data skipping ([[graft.functions.ZOrder]]): tile
    * lineitem points (x = partkey mod 1024, y = suppkey mod 1024) into 64
    * files two ways — by Morton-key prefix vs by a linear x-only sort —
    * and count the files whose min/max footer box intersects a 100×100
    * query box. The z-order layout's per-file boxes are tight in BOTH
    * dimensions, so it prunes what the linear layout cannot; file
    * assignment is a pure key prefix (no window, no global sort — at
    * write time the same key feeds `repartitionByRange`). The oracle
    * recomputes the identical interleave from the same constants. */
  private[queries] val ZBits = 10

  private[queries] val ZFileShift = 14

  val q97_zorder_skipping: Q = (s, d) => {
    import graft.functions.ZOrder
    val pts = Tables.lineitem(s, d).select(
      (col("l_partkey") % 1024).as("x"), (col("l_suppkey") % 1024).as("y"))
    def layoutStats(fileId: Column, layout: String): DataFrame = {
      val hit = col("min_x") <= 200 && col("max_x") >= 100 &&
        col("min_y") <= 200 && col("max_y") >= 100
      pts.withColumn("file_id", fileId)
        .groupBy(col("file_id"))
        .agg(min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"),
          count(lit(1)).as("cnt"))
        .agg(count(lit(1)).as("files_total"),
          sum(when(hit, 1L).otherwise(0L)).as("files_hit"),
          sum(when(hit, col("cnt")).otherwise(0L)).as("rows_in_hit_files"))
        .select(lit(layout).as("layout"), col("files_total"),
          col("files_hit"), col("rows_in_hit_files"))
    }
    layoutStats(shiftrightunsigned(ZOrder.zValue(col("x"), col("y"), ZBits), ZFileShift), "zorder")
      .unionByName(layoutStats(shiftrightunsigned(col("x").cast("long"), 4), "linear"))
      .orderBy(col("layout"))
  }

  val q97_sql: String = {
    val z = (0 until ZBits).map(i =>
      s"((((x >> $i) & 1) << ${2 * i}) | (((y >> $i) & 1) << ${2 * i + 1}))")
      .mkString("(", " | ", ")")
    def layoutSql(fileExpr: String, layout: String) =
      s"""SELECT '$layout' AS layout,
         |       CAST(count(*) AS BIGINT) AS files_total,
         |       CAST(sum(CASE WHEN min_x <= 200 AND max_x >= 100 AND min_y <= 200 AND max_y >= 100
         |                THEN 1 ELSE 0 END) AS BIGINT) AS files_hit,
         |       CAST(sum(CASE WHEN min_x <= 200 AND max_x >= 100 AND min_y <= 200 AND max_y >= 100
         |                THEN cnt ELSE 0 END) AS BIGINT) AS rows_in_hit_files
         |FROM (SELECT $fileExpr AS file_id,
         |             min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y,
         |             count(*) AS cnt
         |      FROM pts GROUP BY 1)""".stripMargin
    s"""WITH pts AS (SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y FROM lineitem)
       |${layoutSql(s"$z >> $ZFileShift", "zorder")}
       |UNION ALL
       |${layoutSql("x >> 4", "linear")}
       |ORDER BY layout""".stripMargin
  }


  /** Table reconciliation ([[graft.operators.Diff]]): snapshot v2 of
    * customer (deterministic deletes / balance updates / inserts) diffed
    * against v1 — one full-outer key join + one count, classifying every
    * key as added/removed/changed/unchanged. The backfill-validation
    * primitive: "did the rewrite change anything it shouldn't have?" */
  val q100_table_diff: Q = (s, d) => {
    val v1 = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))
    val v2 = v1.where(col("c_custkey") % 13 =!= 0)
      .select(col("c_custkey"), col("c_name"),
        when(col("c_custkey") % 11 === 0, col("c_acctbal") + 50.0)
          .otherwise(col("c_acctbal")).as("c_acctbal"),
        col("c_nationkey"))
      .unionByName(v1.where(col("c_custkey") % 89 === 7)
        .select((col("c_custkey") + 2000000L).as("c_custkey"), col("c_name"),
          col("c_acctbal"), col("c_nationkey")))
    graft.operators.Diff.summary(v1, v2, "c_custkey")
      .orderBy(col("change_type"))
  }

  val q100_sql: String =
    """WITH v1 AS (SELECT c_custkey, c_name, c_acctbal, c_nationkey FROM customer),
      |v2 AS (
      |  SELECT c_custkey, c_name,
      |         CASE WHEN c_custkey % 11 = 0 THEN c_acctbal + 50.0 ELSE c_acctbal END AS c_acctbal,
      |         c_nationkey
      |  FROM v1 WHERE c_custkey % 13 <> 0
      |  UNION ALL
      |  SELECT c_custkey + 2000000, c_name, c_acctbal, c_nationkey
      |  FROM v1 WHERE c_custkey % 89 = 7),
      |classified AS (
      |  SELECT CASE WHEN l.c_custkey IS NULL THEN 'added'
      |              WHEN r.c_custkey IS NULL THEN 'removed'
      |              WHEN l.c_name IS NOT DISTINCT FROM r.c_name
      |               AND l.c_acctbal IS NOT DISTINCT FROM r.c_acctbal
      |               AND l.c_nationkey IS NOT DISTINCT FROM r.c_nationkey THEN 'unchanged'
      |              ELSE 'changed' END AS change_type
      |  FROM v1 l FULL OUTER JOIN v2 r ON l.c_custkey = r.c_custkey)
      |SELECT change_type, count(*) AS n_keys
      |FROM classified GROUP BY change_type ORDER BY change_type""".stripMargin


  /** Column profiling: null count / distinct count / min / max per
    * profiled column, as one multi-aggregate pass unpivoted to a row per
    * column — the "analyze table" primitive for schema drift and data
    * quality dashboards. Distinct counts are EXACT (the oracle demands
    * it); at 100 TB each count(distinct) expands the scan, so production
    * would flip to approx_count_distinct — the documented scale escape. */
  val q101_profile: Q = (s, d) => {
    val cols = Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    val c = Tables.customer(s, d)
    val agg = c.agg(
      count(lit(1)).as("n_rows"),
      cols.flatMap(cn => Seq(
        sum(when(col(cn).isNull, 1L).otherwise(0L)).as(s"nulls_$cn"),
        countDistinct(col(cn)).as(s"distinct_$cn"),
        min(col(cn)).cast("string").as(s"min_$cn"),
        max(col(cn)).cast("string").as(s"max_$cn"))): _*)
    agg.select(col("n_rows"),
        explode(array(cols.map(cn => struct(
          lit(cn).as("column_name"),
          col(s"nulls_$cn").as("n_nulls"),
          col(s"distinct_$cn").as("n_distinct"),
          col(s"min_$cn").as("min_value"),
          col(s"max_$cn").as("max_value"))): _*)).as("p"))
      .select(col("p.column_name"), col("n_rows"), col("p.n_nulls"),
        col("p.n_distinct"), col("p.min_value"), col("p.max_value"))
      .orderBy(col("column_name"))
  }

  val q101_sql: String = {
    val cols = Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    cols.map(cn =>
      s"""SELECT '$cn' AS column_name, count(*) AS n_rows,
         |       CAST(sum(CASE WHEN $cn IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |       count(DISTINCT $cn) AS n_distinct,
         |       CAST(min($cn) AS VARCHAR) AS min_value,
         |       CAST(max($cn) AS VARCHAR) AS max_value
         |FROM customer""".stripMargin)
      .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }


  /** Hive-style partitioned write → partition-pruned scan round-trip:
    * lineitem lands partitioned by `l_returnflag`, and the read-back
    * filters one partition — at 100 TB the directory layout means the
    * other partitions' files are never even LISTED (coarser and cheaper
    * than footer-stats skipping; `ScanPruningSpec` asserts the scan node
    * carries the PartitionFilter and reads no non-matching file). Values
    * are oracle-checked against the unpartitioned table. */
  val q104_partitioned_scan: Q = (s, d) => {
    val out = graft.io.Scratch.dir("part_rt_")
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_returnflag"), col("l_linestatus"))
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    s.read.parquet(out)
      .where(col("l_returnflag") === "R")
      .groupBy(col("l_linestatus"))
      .agg(count(lit(1)).as("n_lines"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice"), 6).as("sum_price"),
        min(col("l_orderkey")).as("min_order"),
        max(col("l_orderkey")).as("max_order"))
      .orderBy(col("l_linestatus"))
  }

  val q104_sql: String =
    """SELECT l_linestatus, count(*) AS n_lines,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
      |       min(l_orderkey) AS min_order, max(l_orderkey) AS max_order
      |FROM lineitem WHERE l_returnflag = 'R'
      |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin


  // ------------------------------------------------------- bucketed join
  /** Bucketed-table pair for [[q157_bucketed_join]], memoized per dataset
    * dir: lineitem and orders written once as EXTERNAL bucketed tables
    * (8 buckets on the join key, bucket-sorted, data on [[graft.io
    * .Scratch]]) — the layout that makes every subsequent orderkey join
    * shuffle-free AND sort-free. Table names carry a dir hash so sf0.001
    * tests and sf0.01/0.1 runs never collide in the shared session
    * catalog. */
  private[queries] val bucketed =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()


  private[queries] def bucketedPair(s: SparkSession, d: String): (String, String) =
    bucketed.computeIfAbsent(d, { _ =>
      val h = java.lang.Long.toHexString(d.hashCode.toLong & 0xffffffffL)
      val li = s"li_bkt_$h"
      val ord = s"ord_bkt_$h"
      if (!s.catalog.tableExists(li)) {
        // repartition on the bucket key with numPartitions == numBuckets
        // (same Murmur3 hash as bucketBy) → exactly ONE file per bucket:
        // Spark only trusts bucket-sortedness in that layout; multi-file
        // buckets get re-sorted under the SMJ, defeating sortBy
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
          .repartition(8, col("l_orderkey"))
          .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .option("path", graft.io.Scratch.dir("bkt_li_"))
          .mode("overwrite").saveAsTable(li)
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderpriority"))
          .repartition(8, col("o_orderkey"))
          .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .option("path", graft.io.Scratch.dir("bkt_ord_"))
          .mode("overwrite").saveAsTable(ord)
      }
      (li, ord)
    })


  /** Co-located big⋈big join via BUCKETED tables — the 100 TB fact⋈fact
    * shape: both sides pre-bucketed on the join key, so the SortMergeJoin
    * reads buckets pairwise with NO shuffle on either side
    * (PlanGuaranteesSpec asserts it). At scale this is the layout
    * investment that converts every recurring orderkey join from two
    * corpus shuffles into a metadata lookup; the only remaining exchange
    * is the bounded per-priority rollup. A LOCAL per-bucket sort remains
    * under the SMJ: Spark ≥3 ignores bucket-sort metadata at scan time
    * unless `spark.sql.legacy.bucketedTableScan.outputOrdering` is set
    * (single-file buckets only) — the sortBy in the layout still buys
    * within-file ordering (compression + min/max pruning), and the sort
    * it leaves behind is exchange-free and per-bucket, not a shuffle.
    * The oracle recomputes the same join + rollup from the raw tables —
    * bucketing must be result-invisible. */
  val q157_bucketed_join: Q = (s, d) => {
    val (li, ord) = bucketedPair(s, d)
    s.table(li).join(s.table(ord), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  val q157_sql: String =
    """SELECT o_orderpriority, count(*)::BIGINT AS n_lines,
      |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin


  // ----------------------------------------------- round 7: maintenance/OLS
  /** Small-file compaction round-trip — [[graft.io.Compact]]: the
    * documents table is deliberately fragmented into 64 files, compacted
    * to 4 with a shuffle-free `coalesce` write, and the READ-BACK rows
    * must hash-match the original table — certifying the maintenance op
    * preserves every row bit-for-bit. File-count mechanics are asserted
    * in LayoutSpec-style unit coverage; the oracle certifies fidelity. */
  val q174_compaction: Q = (s, d) => {
    val frag = graft.io.Scratch.dir("compact_in_")
    val out = graft.io.Scratch.dir("compact_out_")
    Tables.documents(s, d).repartition(64).write.mode("overwrite").parquet(frag)
    graft.io.Compact.rewrite(s, frag, out, 4)
      .select(col("doc_id"), md5(col("text")).as("text_md5"),
        col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  val q174_sql: String =
    """SELECT doc_id, md5(text) AS text_md5, lang, source
      |FROM documents ORDER BY doc_id""".stripMargin


  /** Schema-evolution read: two parquet generations (v2 adds `lang`)
    * merged by `mergeSchema` into one relation, absent columns
    * null-backfilled per file — the "old shards never rewritten" contract
    * a 100 TB lake depends on (schema merge happens in file-footer
    * metadata at planning; data files are read as-is, each with its own
    * projection). The oracle recomputes the expected null pattern from
    * the generation rule. */
  val q204_schema_evolution: Q = (s, d) => {
    val doc = Tables.documents(s, d)
    val root = graft.io.Scratch.dir("schevo_")
    doc.where(col("doc_id") % 2 === 0).select(col("doc_id"), col("source"))
      .write.mode("overwrite").parquet(root + "/v1")
    doc.where(col("doc_id") % 2 =!= 0)
      .select(col("doc_id"), col("source"), col("lang"))
      .write.mode("overwrite").parquet(root + "/v2")
    s.read.option("mergeSchema", "true").parquet(root + "/v1", root + "/v2")
      .select(col("doc_id"), col("source"), col("lang"))
      .orderBy(col("doc_id"))
  }

  val q204_sql: String =
    """SELECT doc_id, source,
      |       CASE WHEN doc_id % 2 = 0 THEN NULL ELSE lang END AS lang
      |FROM documents ORDER BY doc_id""".stripMargin


  /** DATA-QUALITY CONSTRAINT SUITE (Deequ-style) — the pre-publish
    * contract check every warehouse load runs: referential integrity
    * across all four star FKs (anti-join violation counts — semi/anti
    * semantics, never a row-multiplying left join), primary-key
    * uniqueness (one hash-groupBy per key: violations = Σ(c−1) over
    * duplicate groups), not-null completeness, and value-range
    * conformance, one bounded verdict row per constraint. Every check
    * is a full-table aggregate with map-side combine; the two 1-row
    * frames per FK check meet in a broadcast cross of singletons (the
    * established bounded-crossJoin pattern). At 100 TB each check is
    * one scan + (for FKs) one shuffle on the key — nothing quadratic,
    * nothing collected. */
  val q290_dq_suite: Q = (s, d) => {
    val one = (df: DataFrame) => df.agg(count(lit(1)).as("total"))
    def fk(name: String, child: DataFrame, ck: String,
           parent: DataFrame, pk: String): DataFrame = {
      val viol = child.join(parent, col(ck) === col(pk), "left_anti")
        .agg(count(lit(1)).as("violations"))
      one(child).crossJoin(broadcast(viol))
        .select(lit(name).as("check_name"), col("total"), col("violations"))
    }
    def pk(name: String, t: DataFrame, k: String): DataFrame =
      t.groupBy(col(k)).agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("total"),
          sum(when(col("c") > 1, col("c") - 1).otherwise(0L)).as("violations"))
        .select(lit(name).as("check_name"), col("total"), col("violations"))
    def cond(name: String, t: DataFrame, ok: Column): DataFrame =
      t.agg(count(lit(1)).as("total"),
          sum(when(!ok, 1L).otherwise(0L)).as("violations"))
        .select(lit(name).as("check_name"), col("total"), col("violations"))
    val li = Tables.lineitem(s, d); val o = Tables.orders(s, d)
    val c = Tables.customer(s, d); val p = Tables.part(s, d)
    val su = Tables.supplier(s, d); val e = Tables.events(s, d)
    Seq(
      fk("fk_lineitem_orders", li, "l_orderkey", o, "o_orderkey"),
      fk("fk_lineitem_part", li, "l_partkey", p, "p_partkey"),
      fk("fk_lineitem_supplier", li, "l_suppkey", su, "s_suppkey"),
      fk("fk_orders_customer", o, "o_custkey", c, "c_custkey"),
      pk("pk_customer", c, "c_custkey"),
      pk("pk_orders", o, "o_orderkey"),
      pk("pk_part", p, "p_partkey"),
      cond("notnull_events_user", e, col("user_id").isNotNull),
      cond("range_lineitem_qty", li,
        col("l_quantity") >= 1 && col("l_quantity") <= 50),
      cond("range_lineitem_disc", li,
        col("l_discount") >= 0 && col("l_discount") <= 0.1)
    ).reduce(_.unionAll(_))
      .withColumn("pass", col("violations") === 0L)
      .orderBy(col("check_name"))
  }

  val q290_sql: String =
    """WITH checks AS (
      |  SELECT 'fk_lineitem_orders' AS check_name,
      |         (SELECT count(*) FROM lineitem)::BIGINT AS total,
      |         (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
      |            (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))::BIGINT AS violations
      |  UNION ALL SELECT 'fk_lineitem_part',
      |         (SELECT count(*) FROM lineitem)::BIGINT,
      |         (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
      |            (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))::BIGINT
      |  UNION ALL SELECT 'fk_lineitem_supplier',
      |         (SELECT count(*) FROM lineitem)::BIGINT,
      |         (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
      |            (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))::BIGINT
      |  UNION ALL SELECT 'fk_orders_customer',
      |         (SELECT count(*) FROM orders)::BIGINT,
      |         (SELECT count(*) FROM orders o WHERE NOT EXISTS
      |            (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))::BIGINT
      |  UNION ALL SELECT 'pk_customer', (SELECT count(*) FROM customer)::BIGINT,
      |         (SELECT coalesce(sum(c - 1), 0) FROM
      |            (SELECT count(*) AS c FROM customer GROUP BY c_custkey)
      |          WHERE c > 1)::BIGINT
      |  UNION ALL SELECT 'pk_orders', (SELECT count(*) FROM orders)::BIGINT,
      |         (SELECT coalesce(sum(c - 1), 0) FROM
      |            (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)
      |          WHERE c > 1)::BIGINT
      |  UNION ALL SELECT 'pk_part', (SELECT count(*) FROM part)::BIGINT,
      |         (SELECT coalesce(sum(c - 1), 0) FROM
      |            (SELECT count(*) AS c FROM part GROUP BY p_partkey)
      |          WHERE c > 1)::BIGINT
      |  UNION ALL SELECT 'notnull_events_user', (SELECT count(*) FROM events)::BIGINT,
      |         (SELECT count(*) FROM events WHERE user_id IS NULL)::BIGINT
      |  UNION ALL SELECT 'range_lineitem_qty', (SELECT count(*) FROM lineitem)::BIGINT,
      |         (SELECT count(*) FROM lineitem
      |          WHERE NOT (l_quantity >= 1 AND l_quantity <= 50))::BIGINT
      |  UNION ALL SELECT 'range_lineitem_disc', (SELECT count(*) FROM lineitem)::BIGINT,
      |         (SELECT count(*) FROM lineitem
      |          WHERE NOT (l_discount >= 0 AND l_discount <= 0.1))::BIGINT)
      |SELECT check_name, total, violations, violations = 0 AS pass
      |FROM checks ORDER BY check_name""".stripMargin
}
