package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Functions._
import graft.io.Tables
import graft.operators.BloomPrefilter
import graft.transform.Star
import graft.queries.RelationalQueries._

/** TPC-H-flavored revenue / supplier / customer queries — split from the monolithic query registry
  * (round-8 maintainability); shared oracle-SQL helpers stay in the
  * origin object(s) (RelationalQueries) with
  * package-private visibility. Same contract as every registry:
  * each `q<N>_<name>` query has a DuckDB `q<N>_sql` twin with identical
  * column names and deterministic ordering. */
object TpchQueries extends Registry {

  // --------------------------------------- correlated scalar subquery (Q17)
  /** TPC-H Q17 shape: revenue from small-quantity lines of one brand, where
    * "small" is per-part (quantity < 20% of that part's average) — the
    * correlated scalar subquery. Spark-first decorrelation: the per-part
    * caps are ONE map-side-combined groupBy over lineitem, then an equi-join
    * back — no per-row re-aggregation, no nested-loop. The brand filter
    * broadcasts (bounded dim side). */
  val q57_small_qty_revenue: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val pt = Tables.part(s, d)
    val caps = li.groupBy(col("l_partkey"))
      .agg(((dsum(col("l_quantity")) / count(lit(1))) * 0.2).as("qty_cap"))
    li.join(broadcast(pt.where(col("p_brand") === "Brand#19")
          .select(col("p_partkey").as("l_partkey"))), Seq("l_partkey"))
      .join(caps, Seq("l_partkey"))
      .where(col("l_quantity") < col("qty_cap"))
      .agg((dsum(col("l_extendedprice")) / 7.0).as("avg_yearly"),
           count(lit(1)).as("n_lines"))
  }

  val q57_sql: String =
    """WITH caps AS (
      |  SELECT l_partkey,
      |         (CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*)) * 0.2 AS qty_cap
      |  FROM lineitem GROUP BY l_partkey)
      |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0 AS avg_yearly,
      |       count(*) AS n_lines
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey AND p_brand = 'Brand#19'
      |JOIN caps USING (l_partkey)
      |WHERE l_quantity < qty_cap""".stripMargin


  // ------------------------------------------------- IN/HAVING subquery (Q18)
  /** TPC-H Q18 shape: orders whose total line quantity exceeds a threshold
    * (`o_orderkey IN (… GROUP BY … HAVING …)`). Spark-first: the HAVING
    * aggregate joins back to orders on its own key — at scale both sides
    * shuffle once on orderkey and AQE picks broadcast when the filtered
    * aggregate is small. */
  val q58_big_orders: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val big = li.groupBy(col("l_orderkey"))
      .agg(dsum(col("l_quantity")).as("sum_qty"))
      .where(col("sum_qty") > 250.0)
    o.join(big, o("o_orderkey") === big("l_orderkey"))
      .select(col("o_orderkey"), col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_orderkey"))
  }

  val q58_sql: String =
    """SELECT o_orderkey, o_totalprice, sum_qty
      |FROM orders
      |JOIN (SELECT l_orderkey,
      |             CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |      FROM lineitem GROUP BY l_orderkey
      |      HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 250.0) big
      |  ON o_orderkey = big.l_orderkey
      |ORDER BY o_orderkey""".stripMargin


  // ------------------------------------------- self-join EXISTS top-k (Q21)
  /** TPC-H Q21 shape: suppliers whose returned ('R') lines sit in
    * multi-supplier orders — a self-join EXISTS reduced to a left-semi join
    * (orderkey equality + suppkey inequality residual), then a top-10.
    * The semi join shuffles on orderkey only; no pair materialization. */
  val q59_supplier_returns: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val returned = li.where(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_suppkey"))
    val others = li.select(col("l_orderkey").as("o_key"), col("l_suppkey").as("other_supp"))
    returned.join(others,
        col("l_orderkey") === col("o_key") && col("l_suppkey") =!= col("other_supp"),
        "left_semi")
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_lines"))
      .orderBy(col("n_lines").desc, col("l_suppkey"))
      .limit(10)
  }

  val q59_sql: String =
    """SELECT l_suppkey, count(*) AS n_lines
      |FROM lineitem l1
      |WHERE l_returnflag = 'R'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |GROUP BY l_suppkey ORDER BY n_lines DESC, l_suppkey LIMIT 10""".stripMargin


  // ------------------------------------------------ EXISTS date window (Q4)
  /** TPC-H Q4 shape: order-priority counts for a quarter's orders having at
    * least one line shipped after the order date — `EXISTS` reduced to a
    * left-semi join (orderkey equality + date residual). The date filter
    * prunes orders BEFORE the join (pushed to the scan); the semi join
    * shuffles on orderkey only and never materializes matched pairs. */
  val q62_order_priority: Q = (s, d) => {
    val o = Tables.orders(s, d)
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
             col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
    o.join(li,
        col("l_orderkey") === col("o_orderkey") && col("l_shipdate") > col("o_orderdate"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  val q62_sql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders o
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate <  TIMESTAMP '1996-07-01'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey
      |                AND l.l_shipdate > o.o_orderdate)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin


  // --------------------------------- left-outer count distribution (Q13)
  /** TPC-H Q13 shape: distribution of orders-per-customer INCLUDING
    * zero-order customers — the left outer join whose unmatched side must
    * count as 0, then a second (tiny) aggregation over the counts. Both
    * aggregations are map-side combined; the join shuffles on custkey. */
  val q63_custdist: Q = (s, d) => {
    val c = Tables.customer(s, d).select(col("c_custkey"))
    val o = Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q63_sql: String =
    """SELECT c_count, count(*) AS custdist
      |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      |      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |      GROUP BY c_custkey) cc
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin


  // ------------------------------------------- correlated min (Q2 shape)
  /** TPC-H Q2 shape: for each small part, the supplier(s) offering its
    * MINIMUM price — the correlated `= (SELECT min(…) …)` subquery,
    * decorrelated Spark-first into one groupBy over the fact table plus an
    * equi-join back on the same key (one shuffle, reused by AQE). The part
    * filter and the supplier→nation lookups broadcast (bounded dims).
    * `min` is order-independent, so double equality is cross-engine exact. */
  val q64_min_cost_supplier: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
    val mn = li.groupBy(col("l_partkey")).agg(min(col("l_extendedprice")).as("min_price"))
    li.join(mn, Seq("l_partkey"))
      .where(col("l_extendedprice") === col("min_price"))
      .join(broadcast(Tables.part(s, d).where(col("p_size") < 15)
        .select(col("p_partkey"), col("p_name"))), col("p_partkey") === col("l_partkey"))
      .join(broadcast(Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))),
        col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name"))),
        col("n_nationkey") === col("s_nationkey"))
      .select(col("p_partkey"), col("p_name"), col("s_name"), col("n_name"), col("min_price"))
      .distinct()
      .orderBy(col("p_partkey"), col("s_name"), col("n_name"))
  }

  val q64_sql: String =
    """WITH mn AS (SELECT l_partkey, min(l_extendedprice) AS min_price
      |            FROM lineitem GROUP BY l_partkey)
      |SELECT DISTINCT p_partkey, p_name, s_name, n_name, min_price
      |FROM lineitem
      |JOIN mn USING (l_partkey)
      |JOIN part ON p_partkey = l_partkey AND p_size < 15
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN nation ON n_nationkey = s_nationkey
      |WHERE l_extendedprice = min_price
      |ORDER BY p_partkey, s_name, n_name""".stripMargin


  // ------------------------------------------- shipping priority (Q3)
  /** TPC-H Q3 shape: top-10 unshipped-revenue orders for one market
    * segment. The two fact tables join on orderkey (single co-keyed
    * shuffle, AQE may broadcast the date-pruned orders side); the segment
    * filter prunes customers before their join. Revenue accumulates in
    * DECIMAL(18,6) for cross-engine exactness; ties break on orderkey. */
  val q66_shipping_priority: Q = (s, d) => {
    val c = Tables.customer(s, d).where(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val o = Tables.orders(s, d)
      .where(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_orderpriority"))
    val li = Tables.lineitem(s, d)
      .where(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
      .select(col("l_orderkey"), col("revenue"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q66_sql: String =
    """SELECT l_orderkey,
      |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      |       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
      |       o_orderpriority
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |  AND l_shipdate > TIMESTAMP '1998-01-01'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin


  // --------------------------------------- local supplier volume (Q5)
  /** TPC-H Q5 shape: revenue by nation where customer and supplier share
    * the nation, restricted to one region. Every dimension (nation, region,
    * supplier, customer) broadcasts; lineitem⋈orders is the only big join.
    * The c_nationkey = s_nationkey restriction rides the join condition —
    * no extra shuffle. */
  val q67_local_supplier_volume: Q = (s, d) => {
    val r = Tables.region(s, d).where(col("r_name") === "ASIA")
    val n = Tables.nation(s, d)
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    val o = Tables.orders(s, d)
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
             col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
    val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(c, col("o_custkey") === col("c_custkey") &&
               col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q67_sql: String =
    """SELECT n_name,
      |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate <  TIMESTAMP '1997-01-01'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin


  // ------------------------------------------- returned items (Q10)
  /** TPC-H Q10 shape: top-20 customers by revenue lost to returns in one
    * quarter. Orders date-pruned at the scan; the returnflag filter prunes
    * lineitem before its join; nation broadcasts. Group-by keys include the
    * (unaggregated, exact) c_acctbal passthrough. */
  val q68_returned_items: Q = (s, d) => {
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))
    val o = Tables.orders(s, d)
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
             col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(s, d).where(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val q68_sql: String =
    """SELECT c_custkey, c_name, c_acctbal, n_name,
      |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate <  TIMESTAMP '1996-04-01'
      |  AND l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin


  // --------------------------------------- conditional counts (Q12)
  /** TPC-H Q12 shape (shipmode → linestatus; the testdata carries no
    * shipmode column): per line status, how many late-shipped lines belong
    * to high- vs low-priority orders — the two-armed conditional aggregate.
    * One orderkey join, one 2-group aggregation, both map-side partial. */
  val q69_late_lines_priority: Q = (s, d) => {
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linestatus"), col("l_shipdate"))
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .where(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(col("l_linestatus"))
      .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
           sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_linestatus"))
  }

  val q69_sql: String =
    """SELECT l_linestatus,
      |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
      |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin


  // ------------------------------------------- promo revenue (Q14)
  /** TPC-H Q14 shape: promo revenue share — a global ratio of two
    * conditional sums over one month of lineitem joined to part. Part
    * broadcasts (join key only + type flag); numerator and denominator
    * accumulate in DECIMAL and divide once, same operation order both
    * engines. */
  val q70_promo_revenue: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .where(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
             col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
    val pt = Tables.part(s, d).select(col("p_partkey"), col("p_type"))
    val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    li.join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .agg(((dsum(when(col("p_type") === "PROMO", disc).otherwise(lit(0.0)), 6) * 100.0) /
            dsum(disc, 6)).as("promo_revenue_pct"),
           count(lit(1)).as("n_lines"))
  }

  val q70_sql: String =
    """SELECT (CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
      |                          THEN l_extendedprice * (1.0 - l_discount)
      |                          ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE) * 100.0)
      |       / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS promo_revenue_pct,
      |       count(*) AS n_lines
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1996-03-01'
      |  AND l_shipdate <  TIMESTAMP '1996-04-01'""".stripMargin


  // --------------------------------- disjunctive predicates (Q19)
  /** TPC-H Q19 shape: revenue under an OR of three brand/size/quantity
    * envelopes. The part-key equality stays the single join condition —
    * the disjunction is a post-join filter, so the join remains a plain
    * (broadcastable) equi-join rather than a theta join; the common
    * `p_size >= 1` conjunct is pushed to the part scan. */
  val q71_brand_envelopes: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"), col("l_discount"))
    val pt = Tables.part(s, d).select(col("p_partkey"), col("p_brand"), col("p_size"))
    val env =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#25" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 30))
    li.join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .where(env)
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"),
           count(lit(1)).as("n_lines"))
  }

  val q71_sql: String =
    """SELECT CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      |       count(*) AS n_lines
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#25' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin


  // ------------------------------- supplier-count distribution (Q16)
  /** TPC-H Q16 shape: distinct suppliers per (brand, type, size) for
    * non-excluded parts, using lineitem as the part↔supplier fact (the
    * testdata has no partsupp). Negative-balance suppliers are excluded by
    * an anti join BEFORE the distinct count; the (partkey, suppkey) pairs
    * are deduped map-side by the countDistinct partial aggregation. */
  val q72_supplier_dist: Q = (s, d) => {
    val ps = Tables.lineitem(s, d).select(col("l_partkey"), col("l_suppkey"))
    val bad = Tables.supplier(s, d).where(col("s_acctbal") < 0)
      .select(col("s_suppkey"))
    val pt = Tables.part(s, d)
      .where(col("p_brand") =!= "Brand#19" && col("p_size").isin(1, 9, 19, 29, 49))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    ps.join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  val q72_sql: String =
    """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#19'
      |  AND p_size IN (1, 9, 19, 29, 49)
      |  AND NOT EXISTS (SELECT 1 FROM supplier
      |                  WHERE s_suppkey = l_suppkey AND s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin


  // ----------------------------------- dormant rich customers (Q22)
  /** TPC-H Q22 shape: customers with above-average positive balances and
    * NO orders, per nation — a scalar aggregate subquery feeding a filter,
    * then an anti join. The scalar average computes once (decimal-exact,
    * identical op order both engines) and broadcasts into the comparison;
    * the anti join ships only custkeys. */
  val q73_dormant_customers: Q = (s, d) => {
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_acctbal"), col("c_nationkey"))
    val avgBal = c.where(col("c_acctbal") > 0.0)
      .agg((dsum(col("c_acctbal")) / count(lit(1))).as("a"))
    val rich = c.join(broadcast(avgBal)).where(col("c_acctbal") > col("a"))
    rich.join(Tables.orders(s, d).select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
      .orderBy(col("n_name"))
  }

  val q73_sql: String =
    """WITH a AS (
      |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS a
      |  FROM customer WHERE c_acctbal > 0.0)
      |SELECT n_name, count(*) AS numcust,
      |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |CROSS JOIN a
      |WHERE c_acctbal > a.a
      |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY n_name ORDER BY n_name""".stripMargin


  // --------------------------------------------- market share ratio (Q8)
  /** TPC-H Q8 shape: one region-restricted nation's share of yearly
    * revenue — a ratio of a CONDITIONAL sum to the total, per group. Both
    * sums ride the same aggregation (one pass); numerator and denominator
    * accumulate in DECIMAL and divide once per row. Supplier/nation/region
    * broadcast; the orders join is the only co-keyed shuffle. */
  val q82_market_share: Q = (s, d) => {
    val n = Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d).where(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate"))
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
    val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"), "left")
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg((dsum(when(col("n_name") === "NATION_2", disc).otherwise(lit(0.0)), 6) /
            dsum(disc, 6)).as("mkt_share"),
           count(lit(1)).as("n_lines"))
      .orderBy(col("o_year"))
  }

  val q82_sql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
      |       CAST(sum(CAST(CASE WHEN n_name = 'NATION_2'
      |                          THEN l_extendedprice * (1.0 - l_discount)
      |                          ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE)
      |       / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS mkt_share,
      |       count(*) AS n_lines
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |LEFT JOIN (SELECT n_nationkey, n_name FROM nation
      |           JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA') nn
      |  ON s_nationkey = nn.n_nationkey
      |GROUP BY 1 ORDER BY o_year""".stripMargin


  // ------------------------------------------- important stock (Q11)
  /** TPC-H Q11 shape: per-part inventory value exceeding a FRACTION OF THE
    * GLOBAL total — a grouped aggregate filtered against a scalar
    * aggregate of the same fact. The scalar computes once and broadcasts
    * into the HAVING comparison (no re-scan: AQE reuses the exchange). */
  val q83_important_parts: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_extendedprice"), col("l_quantity"))
    val value = col("l_extendedprice") * col("l_quantity")
    val perPart = li.groupBy(col("l_partkey")).agg(dsum(value, 2).as("part_value"))
    val total = li.agg((dsum(value, 2) * 0.001).as("threshold"))
    perPart.join(broadcast(total))
      .where(col("part_value") > col("threshold"))
      .select(col("l_partkey"), col("part_value"))
      .orderBy(col("part_value").desc, col("l_partkey"))
  }

  val q83_sql: String =
    """WITH t AS (
      |  SELECT CAST(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(18,2))) AS DOUBLE) * 0.001 AS threshold
      |  FROM lineitem)
      |SELECT l_partkey,
      |       CAST(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS part_value
      |FROM lineitem CROSS JOIN t
      |GROUP BY l_partkey, threshold
      |HAVING CAST(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(18,2))) AS DOUBLE) > threshold
      |ORDER BY part_value DESC, l_partkey""".stripMargin


  // --------------------------------------------- top supplier (Q15)
  /** TPC-H Q15 shape: the supplier(s) achieving MAXIMUM quarterly revenue —
    * argmax via a scalar subquery over the same grouped aggregate (the
    * classic view + max pattern). The revenue aggregate computes once; the
    * 1-row max broadcasts back for the equality filter. `max` is
    * order-independent, so the double equality is cross-engine exact. */
  val q84_top_supplier: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
             col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
    val revenue = li.groupBy(col("l_suppkey"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("total_revenue"))
    val best = revenue.agg(max(col("total_revenue")).as("best"))
    revenue.join(broadcast(best))
      .where(col("total_revenue") === col("best"))
      .join(broadcast(Tables.supplier(s, d).select(col("s_suppkey"), col("s_name"))),
        col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  val q84_sql: String =
    """WITH revenue AS (
      |  SELECT l_suppkey,
      |         CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate <  TIMESTAMP '1996-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM revenue
      |JOIN supplier ON s_suppkey = l_suppkey
      |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin


  // --------------------------------------------- forecast revenue (Q6)
  /** TPC-H Q6 shape: a pure scan-side aggregate — every predicate (date
    * window, discount band, quantity cap) pushes to the parquet reader, no
    * join anywhere; the canonical "is pushdown working" probe. */
  val q86_forecast_revenue: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    li.where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
             col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
             col("l_discount").between(0.05, 0.07) &&
             col("l_quantity") < 24.0)
      .agg(dsum(col("l_extendedprice") * col("l_discount"), 6).as("revenue"),
           count(lit(1)).as("n_lines"))
  }

  val q86_sql: String =
    """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      |       count(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate <  TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24.0""".stripMargin


  // --------------------------------------------- volume shipping (Q7)
  /** TPC-H Q7 shape: trade volume between two specific nations in BOTH
    * directions — the two-sided dimension condition `(supp=A AND cust=B)
    * OR (supp=B AND cust=A)` evaluated after broadcast nation lookups on
    * each side, grouped by the (supp_nation, cust_nation, year) pair. */
  val q87_volume_shipping: Q = (s, d) => {
    val n = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
    val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
        col("l_extendedprice"), col("l_discount"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .where((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
             (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  val q87_sql: String =
    """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      |       CAST(year(l_shipdate) AS INT) AS l_year,
      |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation sn ON s_nationkey = sn.n_nationkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation cn ON c_nationkey = cn.n_nationkey
      |WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
      |   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
      |GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, l_year""".stripMargin


  // ------------------------------------------------ product profit (Q9)
  /** TPC-H Q9 shape: profit per nation per year over a part-name
    * substring filter. The testdata has no partsupp cost, so cost is
    * proxied by `0.6 × p_retailprice × l_quantity` — the SHAPE (computed
    * measure joining three dims, LIKE-filtered part, two-level grouping)
    * is what the query certifies. */
  val q88_product_profit: Q = (s, d) => {
    val pt = Tables.part(s, d).where(col("p_name").contains("a"))
      .select(col("p_partkey"), col("p_retailprice"))
    val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    val n = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate"))
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
    val amount = col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
      lit(0.6) * col("p_retailprice") * col("l_quantity")
    li.join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(dsum(amount, 6).as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  val q88_sql: String =
    """SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
      |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
      |                     - 0.6 * p_retailprice * l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%a%'
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin


  // ------------------------------------------- excess suppliers (Q20)
  /** TPC-H Q20 shape: the nested-IN chain — suppliers of small parts whose
    * shipped volume for that part exceeds a threshold. Decorrelated
    * Spark-first: per (part, supplier) shipped quantity in the window,
    * threshold = half the part's total, semi-join the qualifying pairs
    * down to suppliers. Everything ships only keys after the first
    * aggregate. */
  val q89_excess_suppliers: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
             col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
    val perPair = li.groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(dsum(col("l_quantity")).as("pair_qty"))
    val perPart = li.groupBy(col("l_partkey"))
      .agg((dsum(col("l_quantity")) * 0.5).as("half_qty"))
    val smallParts = Tables.part(s, d).where(col("p_size") < 10)
      .select(col("p_partkey"))
    val qualifying = perPair
      .join(perPart, Seq("l_partkey"))
      .where(col("pair_qty") > col("half_qty"))
      .join(broadcast(smallParts), col("l_partkey") === col("p_partkey"))
      .select(col("l_suppkey")).distinct()
    Tables.supplier(s, d)
      .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_suppkey"))
  }

  val q89_sql: String =
    """WITH win AS (
      |  SELECT l_partkey, l_suppkey, l_quantity FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate <  TIMESTAMP '1997-01-01'),
      |pair AS (
      |  SELECT l_partkey, l_suppkey,
      |         CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS pair_qty
      |  FROM win GROUP BY 1, 2),
      |half AS (
      |  SELECT l_partkey,
      |         CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) * 0.5 AS half_qty
      |  FROM win GROUP BY 1)
      |SELECT s_suppkey, s_name
      |FROM supplier
      |WHERE s_suppkey IN (
      |  SELECT l_suppkey FROM pair
      |  JOIN half USING (l_partkey)
      |  JOIN part ON p_partkey = l_partkey AND p_size < 10
      |  WHERE pair_qty > half_qty)
      |ORDER BY s_suppkey""".stripMargin
}
