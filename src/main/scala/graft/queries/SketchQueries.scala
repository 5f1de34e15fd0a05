package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Functions._
import graft.io.Tables
import graft.operators.BloomPrefilter
import graft.transform.Star

import graft.llm.{AllPairs, Bpe, CmsAgg, Curation, Dedup, Hll, Importance, Ivf, Multimodal, Pq, Quantize, RandomProjection, RollingHash, Sampling, SemDedup, SetJoin, Similarity, Sketch, TextAnalysis}
import graft.queries.RelationalQueries._
import graft.queries.LlmQueries._

/** probabilistic sketches (Bloom, bitmap, CMS, HLL, KMV) — split from the monolithic query registry
  * (round-8 maintainability); shared oracle-SQL helpers stay in the
  * origin object(s) (RelationalQueries / LlmQueries) with
  * package-private visibility. Same contract as every registry:
  * each `q<N>_<name>` query has a DuckDB `q<N>_sql` twin with identical
  * column names and deterministic ordering. */
object SketchQueries extends Registry {

  // ----------------------------------------------------- bloom prefilter
  /** Revenue by return flag for lines from one nation's suppliers, with the
    * fact side pruned by an explicit broadcast Bloom filter BEFORE the
    * exact semi join ([[BloomPrefilter.semiJoinWithBloom]]). The bloom has
    * no false negatives and the trailing exact join removes false
    * positives, so the result is value-identical to the plain semi join —
    * which is exactly what the oracle runs. At scale this is the pattern
    * for pruning a 100 TB fact scan against a key set computed in another
    * job, where Spark's own runtime bloom injection can't reach. */
  val q109_bloom_prefilter: Q = (s, d) => {
    val supp = Tables.supplier(s, d)
      .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name") === "NATION_3") // present at every test SF
      .select(col("s_suppkey"))
    BloomPrefilter.semiJoinWithBloom(
        Tables.lineitem(s, d), "l_suppkey", supp, "s_suppkey",
        expectedItems = 1000L, fpp = 0.03)
      .groupBy(col("l_returnflag"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("revenue"),
           count(lit(1)).as("n_lines"))
      .orderBy(col("l_returnflag"))
  }

  val q109_sql: String =
    """SELECT l_returnflag,
      |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      |       count(*) AS n_lines
      |FROM lineitem
      |WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
      |                    JOIN nation ON s_nationkey = n_nationkey
      |                    WHERE n_name = 'NATION_3')
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin


  /** Exact RE-AGGREGABLE distinct counts via 64-bit-word bitmaps: daily
    * distinct users, then WEEKLY distinct computed from the daily word
    * frame alone — never rescanning the raw events. This is the
    * pre-aggregated-cube shape that makes exact distinct viable at
    * 100 TB: the event scan happens once, producing |days|·|users|/64
    * bitmap words via ONE map-side-combined `bit_or` (a day's word merges
    * inside each task before the shuffle); every coarser rollup
    * (week, month, all-time) is a `bit_or` over words — associative,
    * idempotent, and tiny. `sum_daily_distinct` vs `weekly_distinct`
    * quantifies the cross-day dedup a naive sum would overcount. */
  val q226_bitmap_distinct: Q = (s, d) => {
    val words = Tables.events(s, d)
      .select(expr("unix_millis(ts) div 86400000").as("day"),
        expr("user_id div 64").as("word"),
        expr("shiftleft(1L, cast(user_id % 64 as int))").as("bit"))
      .groupBy(col("day"), col("word")).agg(expr("bit_or(bit)").as("bits"))
      .localCheckpoint(true) // consumers: daily counts + weekly re-merge
    val daily = words
      .groupBy(col("day"))
      .agg(sum(expr("bit_count(bits)")).cast("long").as("day_distinct"))
    val weekly = words
      .groupBy(expr("day div 7").as("week"), col("word"))
      .agg(expr("bit_or(bits)").as("bits"))
      .groupBy(col("week"))
      .agg(sum(expr("bit_count(bits)")).cast("long").as("weekly_distinct"))
    daily.groupBy(expr("day div 7").as("week"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("day_distinct")).as("sum_daily_distinct"))
      .join(weekly, Seq("week"))
      .orderBy(col("week"))
  }

  val q226_sql: String =
    """WITH e AS (SELECT epoch_ms(ts) // 86400000 AS day, user_id
      |           FROM events),
      |dd AS (SELECT day, count(DISTINCT user_id)::BIGINT AS day_distinct
      |       FROM e GROUP BY 1),
      |wd AS (SELECT day // 7 AS week,
      |              count(DISTINCT user_id)::BIGINT AS weekly_distinct
      |       FROM e GROUP BY 1)
      |SELECT week, count(*)::BIGINT AS n_days,
      |       sum(day_distinct)::BIGINT AS sum_daily_distinct,
      |       max(weekly_distinct) AS weekly_distinct
      |FROM dd JOIN wd ON dd.day // 7 = wd.week
      |GROUP BY week ORDER BY week""".stripMargin


  /** JOIN-SIZE ESTIMATION from Count-Min sketches (the AMS/CMS inner
    * product of Cormode & Muthukrishnan, J.Alg 2005): the self-join size
    * Σₖ cₖ² of lineitem on part key — the number the optimizer needs
    * BEFORE running a join to predict skew blow-up — estimated as
    * min over the d hash rows of Σⱼ counter², and compared against the
    * exact answer. Shape: ONE corpus scan exploding each key into its d
    * row-buckets (row-local), one map-side-combined count per (row,
    * bucket) — d·w cells of state, the planning-time sketch a 100 TB
    * optimizer would maintain per column — then bounded re-aggregation.
    * The estimate is exact integer arithmetic end to end (a guaranteed
    * OVERestimate: row sums only collide upward), so it hash-matches. */
  val q235_join_size_cms: Q = (s, d) => {
    val depth = 3
    val width = 512
    val keys = Tables.lineitem(s, d).select(col("l_partkey").as("k"))
      .localCheckpoint(true) // consumers: sketch build + exact groupBy
    val ib = (0 until depth).map { i =>
      struct(lit(i).as("i"),
        graft.llm.Sketch.cmsBucket(i, col("k"), width).as("b"))
    }
    val est = keys
      .select(explode(array(ib: _*)).as("ib"))
      .select(col("ib.i").as("i"), col("ib.b").as("b"))
      .groupBy(col("i"), col("b")).agg(count(lit(1)).as("c"))
      .groupBy(col("i")).agg(sum(col("c") * col("c")).as("e"))
      .agg(min(col("e")).as("cms_join_size"))
    val exact = keys.groupBy(col("k")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * col("c")).as("exact_join_size"))
    exact.crossJoin(broadcast(est)) // 1 row x 1 row
      .withColumn("ratio_ppm",
        expr("cms_join_size * 1000000 div exact_join_size"))
  }

  val q235_sql: String =
    """WITH k AS (SELECT l_partkey AS k FROM lineitem),
      |b AS (SELECT i, ('0x' || substr(md5(CAST(i AS VARCHAR) || '|'
      |          || CAST(k AS VARCHAR)), 1, 8))::BIGINT % 512 AS b
      |      FROM k, (SELECT unnest(range(3)) AS i) d),
      |c AS (SELECT i, b, count(*)::BIGINT AS c FROM b GROUP BY 1, 2),
      |e AS (SELECT i, sum(c * c)::BIGINT AS e FROM c GROUP BY 1),
      |est AS (SELECT min(e)::BIGINT AS cms_join_size FROM e),
      |ex AS (SELECT sum(c * c)::BIGINT AS exact_join_size FROM (
      |         SELECT count(*)::BIGINT AS c FROM k GROUP BY k))
      |SELECT exact_join_size, cms_join_size,
      |       cms_join_size * 1000000 // exact_join_size AS ratio_ppm
      |FROM ex, est""".stripMargin


  /** BITMAP RETENTION: week-over-week retained users computed as
    * popcount(weekₙ AND weekₙ₊₁) over the same 64-bit-word user bitmaps
    * as q226 — the INTERSECTION query that bitmap indexes answer without
    * touching raw data: one word-keyed equi-join between consecutive
    * weeks' word frames (|users|/64 rows per week, not |events|), a
    * bitwise AND, a popcount sum. Complements q221's count-distinct
    * cohort matrix with the re-aggregable exact form — any week pair, no
    * event rescan. */
  val q242_bitmap_retention: Q = (s, d) => {
    val words = Tables.events(s, d)
      .select(expr("unix_millis(ts) div 86400000 div 7").as("week"),
        expr("user_id div 64").as("word"),
        expr("shiftleft(1L, cast(user_id % 64 as int))").as("bit"))
      .groupBy(col("week"), col("word")).agg(expr("bit_or(bit)").as("bits"))
      .localCheckpoint(true) // consumers: active counts + pair self-join
    val act = words.groupBy(col("week"))
      .agg(sum(expr("bit_count(bits)")).cast("long").as("active"))
    val ret = words.as("a").join(words.as("b"),
        col("a.word") === col("b.word") && col("b.week") === col("a.week") + 1)
      .select(col("a.week").as("week"),
        col("a.bits").bitwiseAND(col("b.bits")).as("band"))
      .groupBy(col("week"))
      .agg(sum(expr("bit_count(band)")).cast("long").as("retained"))
    ret
      .join(act, Seq("week"))
      .join(act.select((col("week") - 1).as("week"),
        col("active").as("active_next")), Seq("week"))
      .select(col("week"), (col("week") + 1).as("next_week"),
        col("active").as("active_week"), col("active_next"),
        col("retained"))
      .withColumn("retained_ppm", expr("retained * 1000000 div active_week"))
      .orderBy(col("week"))
  }

  val q242_sql: String =
    """WITH u AS (SELECT DISTINCT epoch_ms(ts) // 86400000 // 7 AS week,
      |             user_id FROM events),
      |a AS (SELECT week, count(*)::BIGINT AS active FROM u GROUP BY 1),
      |r AS (SELECT x.week, count(*)::BIGINT AS retained
      |      FROM u x JOIN u y ON y.user_id = x.user_id
      |                       AND y.week = x.week + 1
      |      GROUP BY 1)
      |SELECT r.week, r.week + 1 AS next_week, a1.active AS active_week,
      |       a2.active AS active_next, retained,
      |       retained * 1000000 // a1.active AS retained_ppm
      |FROM r JOIN a a1 ON a1.week = r.week
      |       JOIN a a2 ON a2.week = r.week + 1
      |ORDER BY r.week""".stripMargin


  /** Count-Min heavy hitters over `lineitem.l_partkey`. The sketch is built
    * in ONE pass by [[graft.llm.CmsAgg]] (partial-aggregated typed
    * Aggregator; 4×2048 longs of constant state per partition), then the
    * exact top-20 keys are annotated with the sketch's estimate, read as a
    * codegen'd `element_at` over the counter array shipped as a single
    * broadcast literal. The oracle recomputes every bucket counter AND the
    * min-of-d read in SQL with the same md5 hash family, so the estimates
    * themselves are hash-checked — certified `est >= exact` semantics, not
    * a rows-only smoke check. At 100 TB the exact groupBy side goes away
    * and candidates come from the sketch; here it doubles as the oracle. */
  val q107_cms_heavy_hitters: Q = (s, d) => {
    import s.implicits._
    val depth = CmsParams._1; val width = CmsParams._2
    val li = Tables.lineitem(s, d)
    val sketch = li.select(col("l_partkey").cast("string")).as[String]
      .select(new CmsAgg(depth, width).toColumn).head()
    li.groupBy(col("l_partkey").as("key"))
      .agg(count(lit(1)).as("exact_cnt"))
      .withColumn("cms_est", Sketch.cmsEstimate(sketch, depth, width, col("key")))
      .orderBy(col("exact_cnt").desc, col("key"))
      .limit(20)
  }

  val q107_sql: String = {
    val (depth, width) = CmsParams
    s"""WITH keys AS (SELECT l_partkey AS key, count(*) AS exact_cnt FROM lineitem GROUP BY 1),
       |     idx AS (SELECT unnest(range($depth)) AS i),
       |     hashed AS (SELECT k.key, k.exact_cnt, i.i,
       |                ('0x' || substr(md5(CAST(i.i AS VARCHAR) || '|' || CAST(k.key AS VARCHAR)), 1, 8))::BIGINT % $width AS bucket
       |                FROM keys k CROSS JOIN idx i),
       |     buckets AS (SELECT i, bucket, CAST(sum(exact_cnt) AS BIGINT) AS total FROM hashed GROUP BY 1, 2),
       |     est AS (SELECT h.key, min(b.total) AS cms_est FROM hashed h JOIN buckets b USING (i, bucket) GROUP BY 1)
       |SELECT k.key, k.exact_cnt, e.cms_est
       |FROM keys k JOIN est e USING (key)
       |ORDER BY k.exact_cnt DESC, k.key LIMIT 20""".stripMargin
  }


  /** HyperLogLog distinct count of `orders.o_custkey` (m=256 registers),
    * exact-arithmetic variant: the register sum is carried as the INTEGER
    * S = Σ 2^(25-M_j), so the raw HLL estimate is one double division
    * `numerator / S` — identical IEEE op on both engines, hence a full
    * hash-exact oracle for an approximate-count operator. Output also
    * carries the exact distinct (for error inspection) and the
    * zero-register count V (what linear-counting correction would key on).
    * The Spark side here uses the Column/groupBy register form;
    * [[graft.llm.HllAgg]] (one-pass, constant-state, the 100 TB shape) is
    * certified equal to it register-for-register in `SketchSpec`. */
  val q108_hll_distinct: Q = (s, d) => {
    val m = HllM
    val bits = Hll.rhoBits(m)
    val od = Tables.orders(s, d)
    val jr = od.select(Hll.jCol(col("o_custkey"), m).as("j"),
                       Hll.rhoCol(col("o_custkey"), m).as("rho"))
    val regs = s.range(m).select(col("id").as("j"))
      .join(jr.groupBy("j").agg(max("rho").as("mx")), Seq("j"), "left")
      .select(coalesce(col("mx"), lit(0)).cast("int").as("m"))
    val aggd = regs.agg(
      expr(s"CAST(sum(shiftleft(CAST(1 AS BIGINT), ${bits + 1} - m)) AS BIGINT)").as("s"),
      sum(when(col("m") === 0, 1L).otherwise(0L)).as("zero_registers"))
    val exact = od.agg(countDistinct(col("o_custkey")).as("exact_distinct"))
    exact.crossJoin(broadcast(aggd)) // 1 row x 1 row: broadcast nested loop, not a CartesianProduct
      .select(col("exact_distinct"),
        (lit(Hll.numerator(m)) / col("s")).as("hll_estimate"),
        col("zero_registers"))
  }

  val q108_sql: String = {
    val m = HllM
    val bits = Hll.rhoBits(m)
    s"""WITH h AS (SELECT ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT AS hv FROM orders),
       |     jr AS (SELECT hv % $m AS j,
       |                   CASE WHEN instr(lpad(bin(hv // $m), $bits, '0'), '1') = 0 THEN ${bits + 1}
       |                        ELSE instr(lpad(bin(hv // $m), $bits, '0'), '1') END AS rho
       |            FROM h),
       |     regs AS (SELECT CAST(coalesce(max(jr.rho), 0) AS INTEGER) AS m
       |              FROM (SELECT unnest(range($m)) AS j) sp LEFT JOIN jr ON sp.j = jr.j GROUP BY sp.j),
       |     agg AS (SELECT CAST(sum(1::BIGINT << (${bits + 1} - m)) AS BIGINT) AS s,
       |                    CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_registers
       |             FROM regs)
       |SELECT (SELECT count(DISTINCT o_custkey) FROM orders) AS exact_distinct,
       |       CAST(${Hll.numerator(m)} AS DOUBLE) / s AS hll_estimate,
       |       zero_registers
       |FROM agg""".stripMargin
  }


  /** KMV sketch set-operation estimates — [[graft.operators.Kmv]]:
    * union-cardinality and Jaccard for every source pair from k = 64
    * minimum md5-hash values per source — the sketch form of q189's
    * exact vocabulary overlap: k·|sources| retained values instead of a
    * |vocab|-sized join per pair, with content-defined (order-
    * independent, engine-independent) randomness and integral fixed-point
    * estimators, so the ESTIMATES hash-match the SQL replay. */
  val q215_kmv_overlap: Q = (s, d) => {
    val toks = Tables.documents(s, d).select(col("source"),
      explode(TextAnalysis.tokens(col("text"))).as("tok"))
    val sk = graft.operators.Kmv.sketch(toks, "source", "tok", k = 64)
    graft.operators.Kmv.pairEstimates(sk, "source", k = 64)
      .select(col("ga").as("src_a"), col("gb").as("src_b"),
        col("n_union_est"), col("jaccard_est_fp"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val q215_sql: String =
    """WITH toks AS (SELECT source,
      |    unnest(list_filter(string_split_regex(lower(text), '\W+'),
      |           x -> x <> '')) AS tok
      |  FROM documents),
      |hs AS (SELECT DISTINCT source,
      |         ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM toks),
      |sk AS (SELECT source, h FROM (
      |         SELECT source, h,
      |           row_number() OVER (PARTITION BY source ORDER BY h) AS r
      |         FROM hs) WHERE r <= 64),
      |sides AS (
      |  SELECT s.source AS ga, g.source AS gb, s.h, 1 AS in_a, 0 AS in_b
      |  FROM sk s JOIN (SELECT DISTINCT source FROM sk) g ON s.source < g.source
      |  UNION ALL
      |  SELECT g.source AS ga, s.source AS gb, s.h, 0 AS in_a, 1 AS in_b
      |  FROM sk s JOIN (SELECT DISTINCT source FROM sk) g ON g.source < s.source),
      |m AS (SELECT ga, gb, h, max(in_a) AS in_a, max(in_b) AS in_b
      |      FROM sides GROUP BY 1, 2, 3),
      |rk AS (SELECT *, row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS r
      |       FROM m),
      |agg AS (SELECT ga, gb, count(*)::BIGINT AS m, max(h) AS t,
      |          sum(in_a * in_b)::BIGINT AS n_both
      |        FROM rk WHERE r <= 64 GROUP BY 1, 2)
      |SELECT ga AS src_a, gb AS src_b,
      |  (CASE WHEN m < 64 THEN m
      |        ELSE (63 * 4294967296) // greatest(t, 1) END)::BIGINT AS n_union_est,
      |  ((n_both * 1000000) // m)::BIGINT AS jaccard_est_fp
      |FROM agg ORDER BY src_a, src_b""".stripMargin


  /** HLL sketch ROLLUP — weekly distinct-user estimates computed by
    * merging per-day HyperLogLog registers, never rescanning raw events:
    * the mergeable-sketch property ([[graft.llm.Hll]]) that turns a
    * 100 TB distinct-count cube into one scan plus register-wise `max`
    * rollups (associative and idempotent, so days → weeks → months all
    * reuse the same daily frame, exactly like q226's exact bitmaps but
    * with O(m) state per group instead of O(|users|/64)). The register
    * merge, densified grid (weeks × m via a broadcast nested loop, both
    * sides bounded), and estimate arithmetic are all replayed by the
    * oracle — the ESTIMATES hash-match, not just "close enough". */
  val q227_hll_rollup: Q = (s, d) => {
    val m = HllM
    val bits = Hll.rhoBits(m)
    val ev = Tables.events(s, d)
      .select(expr("unix_millis(ts) div 86400000").as("day"), col("user_id"))
    val dailyRegs = ev
      .select(col("day"), Hll.jCol(col("user_id"), m).as("j"),
        Hll.rhoCol(col("user_id"), m).as("rho"))
      .groupBy(col("day"), col("j")).agg(max(col("rho")).as("rho"))
    val weekRegs = dailyRegs
      .groupBy(expr("day div 7").as("week"), col("j"))
      .agg(max(col("rho")).as("mx"))
    val grid = weekRegs.select(col("week")).distinct()
      .join(broadcast(s.range(m).select(col("id").as("j"))))
    val aggd = grid.join(weekRegs, Seq("week", "j"), "left")
      .select(col("week"), coalesce(col("mx"), lit(0)).cast("int").as("mreg"))
      .groupBy(col("week"))
      .agg(expr(s"CAST(sum(shiftleft(CAST(1 AS BIGINT), ${bits + 1} - mreg)) AS BIGINT)").as("s"),
        sum(when(col("mreg") === 0, 1L).otherwise(0L)).as("zero_registers"))
    val exact = ev.groupBy(expr("day div 7").as("week"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    exact.join(aggd, Seq("week"))
      .select(col("week"), col("exact_distinct"),
        (lit(Hll.numerator(m)) / col("s")).as("hll_estimate"),
        col("zero_registers"))
      .orderBy(col("week"))
  }

  val q227_sql: String = {
    val m = HllM
    val bits = Hll.rhoBits(m)
    s"""WITH e AS (SELECT epoch_ms(ts) // 86400000 AS day, user_id,
       |             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS hv
       |           FROM events),
       |jr AS (SELECT day // 7 AS week, hv % $m AS j,
       |          CASE WHEN instr(lpad(bin(hv // $m), $bits, '0'), '1') = 0 THEN ${bits + 1}
       |               ELSE instr(lpad(bin(hv // $m), $bits, '0'), '1') END AS rho
       |       FROM e),
       |wr AS (SELECT week, j, max(rho) AS mx FROM jr GROUP BY 1, 2),
       |grid AS (SELECT w.week, sp.j
       |         FROM (SELECT DISTINCT week FROM wr) w,
       |              (SELECT unnest(range($m)) AS j) sp),
       |regs AS (SELECT grid.week, CAST(coalesce(wr.mx, 0) AS INTEGER) AS m
       |         FROM grid LEFT JOIN wr ON grid.week = wr.week AND grid.j = wr.j),
       |agg AS (SELECT week,
       |          CAST(sum(1::BIGINT << (${bits + 1} - m)) AS BIGINT) AS s,
       |          CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_registers
       |        FROM regs GROUP BY 1),
       |ex AS (SELECT day // 7 AS week,
       |         count(DISTINCT user_id)::BIGINT AS exact_distinct
       |       FROM e GROUP BY 1)
       |SELECT ex.week, exact_distinct,
       |       CAST(${Hll.numerator(m)} AS DOUBLE) / s AS hll_estimate,
       |       zero_registers
       |FROM ex JOIN agg USING (week) ORDER BY week""".stripMargin
  }


  /** HLL INTERSECTION by inclusion–exclusion — |A∩B| ≈ |A| + |B| − |A∪B|
    * with the union estimate read from register-wise max of the two
    * sketches: the set-algebra layer over q227's mergeable registers
    * that answers week-over-week retention (compare q242's exact bitmap
    * answer, surfaced alongside) from O(m) state per week instead of
    * O(|users|/64). Shape: one corpus scan into per-week registers, a
    * dense week×m grid (broadcast nested loop over bounded sides), one
    * register equi-join between consecutive weeks, and three estimate
    * divisions whose inputs are exact integers — so even the
    * inclusion–exclusion DOUBLE arithmetic is order-fixed and
    * hash-matches the oracle replay. */
  val q251_hll_intersection: Q = (s, d) => {
    val m = HllM
    val bits = Hll.rhoBits(m)
    val ev = Tables.events(s, d)
      .select(expr("unix_millis(ts) div 86400000 div 7").as("week"),
        col("user_id"))
    val weekRegs = ev
      .select(col("week"), Hll.jCol(col("user_id"), m).as("j"),
        Hll.rhoCol(col("user_id"), m).as("rho"))
      .groupBy(col("week"), col("j")).agg(max(col("rho")).as("mx"))
    val grid = weekRegs.select(col("week")).distinct()
      .join(broadcast(s.range(m).select(col("id").as("j"))))
    val dense = grid.join(weekRegs, Seq("week", "j"), "left")
      .select(col("week"), col("j"),
        coalesce(col("mx"), lit(0)).cast("int").as("mreg"))
      .localCheckpoint(true) // consumers: pair join (both sides)
    val pair = dense.as("a").join(dense.as("b"),
        col("a.j") === col("b.j") && col("b.week") === col("a.week") + 1)
      .select(col("a.week").as("week"), col("a.mreg").as("ma"),
        col("b.mreg").as("mb"))
    val agg = pair.groupBy(col("week")).agg(
      expr(s"CAST(sum(shiftleft(CAST(1 AS BIGINT), ${bits + 1} - ma)) AS BIGINT)").as("sa"),
      expr(s"CAST(sum(shiftleft(CAST(1 AS BIGINT), ${bits + 1} - mb)) AS BIGINT)").as("sb"),
      expr(s"CAST(sum(shiftleft(CAST(1 AS BIGINT), ${bits + 1} - greatest(ma, mb))) AS BIGINT)").as("su"))
    val exact = ev.as("x").join(ev.as("y"),
        col("x.user_id") === col("y.user_id")
          && col("y.week") === col("x.week") + 1)
      .select(col("x.week").as("week"), col("x.user_id").as("user_id"))
      .distinct()
      .groupBy(col("week")).agg(count(lit(1)).as("exact_retained"))
    val num = Hll.numerator(m)
    exact.join(agg, Seq("week"))
      .select(col("week"), (col("week") + 1).as("next_week"),
        col("exact_retained"),
        (lit(num) / col("sa")).as("hll_a"),
        (lit(num) / col("sb")).as("hll_b"),
        (lit(num) / col("su")).as("hll_union"),
        (lit(num) / col("sa") + lit(num) / col("sb")
          - lit(num) / col("su")).as("hll_intersection"))
      .orderBy(col("week"))
  }

  val q251_sql: String = {
    val m = HllM
    val bits = Hll.rhoBits(m)
    val num = Hll.numerator(m)
    s"""WITH e AS (SELECT epoch_ms(ts) // 86400000 // 7 AS week, user_id,
       |             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS hv
       |           FROM events),
       |jr AS (SELECT week, hv % $m AS j,
       |          CASE WHEN instr(lpad(bin(hv // $m), $bits, '0'), '1') = 0 THEN ${bits + 1}
       |               ELSE instr(lpad(bin(hv // $m), $bits, '0'), '1') END AS rho
       |       FROM e),
       |wr AS (SELECT week, j, max(rho) AS mx FROM jr GROUP BY 1, 2),
       |grid AS (SELECT w.week, sp.j
       |         FROM (SELECT DISTINCT week FROM wr) w,
       |              (SELECT unnest(range($m)) AS j) sp),
       |dn AS (SELECT grid.week, grid.j, CAST(coalesce(wr.mx, 0) AS INTEGER) AS mreg
       |       FROM grid LEFT JOIN wr ON grid.week = wr.week AND grid.j = wr.j),
       |pr AS (SELECT a.week, a.mreg AS ma, b.mreg AS mb
       |       FROM dn a JOIN dn b ON a.j = b.j AND b.week = a.week + 1),
       |ag AS (SELECT week,
       |         CAST(sum(1::BIGINT << (${bits + 1} - ma)) AS BIGINT) AS sa,
       |         CAST(sum(1::BIGINT << (${bits + 1} - mb)) AS BIGINT) AS sb,
       |         CAST(sum(1::BIGINT << (${bits + 1} - greatest(ma, mb))) AS BIGINT) AS su
       |       FROM pr GROUP BY 1),
       |ex AS (SELECT x.week, count(DISTINCT x.user_id)::BIGINT AS exact_retained
       |       FROM e x JOIN e y ON y.user_id = x.user_id
       |                        AND y.week = x.week + 1
       |       GROUP BY 1)
       |SELECT ex.week, ex.week + 1 AS next_week, exact_retained,
       |       CAST($num AS DOUBLE) / sa AS hll_a,
       |       CAST($num AS DOUBLE) / sb AS hll_b,
       |       CAST($num AS DOUBLE) / su AS hll_union,
       |       CAST($num AS DOUBLE) / sa + CAST($num AS DOUBLE) / sb
       |         - CAST($num AS DOUBLE) / su AS hll_intersection
       |FROM ex JOIN ag USING (week) ORDER BY ex.week""".stripMargin
  }


  /** KMV directional SET-DIFFERENCE estimates per source pair —
    * [[graft.operators.Kmv.differenceEstimates]]: among the k smallest
    * union hashes, the a-only / b-only fractions are unbiased samples of
    * the difference shares, so `|A∖B| ≈ n_union_est · only_a div m` in
    * exact integer arithmetic (content-defined md5 order — replayable).
    * Completes q215's union/Jaccard algebra with the estimator HLL
    * inclusion-exclusion can't give without error stacking; all work
    * stays on the |sources|·k sketch frame. */
  val q259_kmv_difference: Q = (s, d) => {
    val toks = Tables.documents(s, d).select(col("source"),
      explode(TextAnalysis.tokens(col("text"))).as("tok"))
    val sk = graft.operators.Kmv.sketch(toks, "source", "tok", k = 64)
    graft.operators.Kmv.differenceEstimates(sk, "source", k = 64)
      .select(col("ga").as("src_a"), col("gb").as("src_b"),
        col("n_union_est"), col("diff_ab_est"), col("diff_ba_est"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val q259_sql: String =
    """WITH toks AS (SELECT source,
      |    unnest(list_filter(string_split_regex(lower(text), '\W+'),
      |           x -> x <> '')) AS tok
      |  FROM documents),
      |hs AS (SELECT DISTINCT source,
      |         ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM toks),
      |sk AS (SELECT source, h FROM (
      |         SELECT source, h,
      |           row_number() OVER (PARTITION BY source ORDER BY h) AS r
      |         FROM hs) WHERE r <= 64),
      |sides AS (
      |  SELECT s.source AS ga, g.source AS gb, s.h, 1 AS in_a, 0 AS in_b
      |  FROM sk s JOIN (SELECT DISTINCT source FROM sk) g ON s.source < g.source
      |  UNION ALL
      |  SELECT g.source AS ga, s.source AS gb, s.h, 0 AS in_a, 1 AS in_b
      |  FROM sk s JOIN (SELECT DISTINCT source FROM sk) g ON g.source < s.source),
      |m AS (SELECT ga, gb, h, max(in_a) AS in_a, max(in_b) AS in_b
      |      FROM sides GROUP BY 1, 2, 3),
      |rk AS (SELECT *, row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS r
      |       FROM m),
      |agg AS (SELECT ga, gb, count(*)::BIGINT AS m, max(h) AS t,
      |          sum(in_a * (1 - in_b))::BIGINT AS only_a,
      |          sum(in_b * (1 - in_a))::BIGINT AS only_b
      |        FROM rk WHERE r <= 64 GROUP BY 1, 2),
      |est AS (SELECT ga, gb, only_a, only_b, m,
      |          (CASE WHEN m < 64 THEN m
      |                ELSE (63 * 4294967296) // greatest(t, 1) END)::BIGINT
      |            AS n_union_est
      |        FROM agg)
      |SELECT ga AS src_a, gb AS src_b, n_union_est,
      |  ((n_union_est * only_a) // m)::BIGINT AS diff_ab_est,
      |  ((n_union_est * only_b) // m)::BIGINT AS diff_ba_est
      |FROM est ORDER BY src_a, src_b""".stripMargin

  // ------------------------------------------------- weighted MinHash
  /** WEIGHTED MinHash near-dup — [[Dedup.weightedShingles]]: term
    * occurrences are log-bucketed into replicated elements
    * ("tok~1".."tok~r", r = min(bitLength(count), 4)), then the plain
    * set pipeline (q24's signatures → LSH bands → candidate pairs →
    * exact verify) computes the WEIGHTED Jaccard Σmin(r_a,r_b) /
    * Σmax(r_a,r_b) — the repetition-aware near-dup tier that set
    * Jaccard is blind to (a doc saying "spam" once and one saying it
    * 500 times are set-identical).
    *
    * Banding is 2 bands × 4 rows, TIGHTER than q24's 4×2: every doc's
    * "tok~1" elements reproduce its plain token set, so weighted
    * signatures are systematically more similar than set signatures —
    * at 4×2 this corpus yields 1.21M candidates (measured at sf0.1, 5k
    * docs), at 2×4 0.71M with recall still 0.66/0.87 at wj 0.8/0.9:
    * the right precision regime for a ≥0.5 dup tier. Output is the
    * per-DOC dup profile (partner count + strongest partner), not the
    * 0.46M-row pair list: the pair set is an intermediate at this
    * similarity density, the per-doc profile is the curation signal.
    * One groupBy over (doc, token), bounded element fan-out, bucket
    * join never all-pairs, verification over candidates only; the
    * IEEE division of two exact ints is bit-identical cross-engine,
    * so the max-struct partner election replays exactly. */
  val q277_weighted_minhash: Q = (s, d) => {
    // el has THREE consumers (signature build + both verify sides):
    // truncate lineage once, the q121 fan-out lesson
    val el = Dedup.weightedShingles(Tables.documents(s, d), "text", "doc_id")
      .localCheckpoint(true)
    val pairs = Dedup.lshCandidatePairs(
      Dedup.minhashSignatures(el, LshK), 2, LshK / 2)
    val wj = Dedup.ngramJaccard(el, pairs).where(col("jaccard") >= 0.5)
    // both directions via a row-local explode, NOT a two-sided union —
    // a union would execute the whole verify join twice (measured 9.2 s
    // vs 5.5 s steady-state at sf0.1)
    wj.select(explode(array(
        struct(col("doc_a").as("doc_id"), col("doc_b").as("partner"),
          col("jaccard")),
        struct(col("doc_b").as("doc_id"), col("doc_a").as("partner"),
          col("jaccard")))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.partner").as("partner"),
        col("r.jaccard").as("jaccard"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dups"),
        max(struct(col("jaccard").as("j"), col("partner").as("p"))).as("m"))
      .select(col("doc_id"), col("n_dups"), col("m.j").as("max_wj"),
        col("m.p").as("best_partner"))
      .orderBy(col("doc_id"))
  }

  private val weightedShCtes: String =
    """tk AS (SELECT doc_id,
      |         unnest(list_filter(string_split_regex(lower(text), '\W+'),
      |                            x -> x <> '')) AS tok
      |       FROM documents),
      |cnt AS (SELECT doc_id, tok, count(*)::BIGINT AS c FROM tk GROUP BY 1, 2),
      |sh AS (SELECT doc_id, tok || '~' || i AS shingle
      |       FROM cnt, UNNEST(range(1, least(length(bin(c)), 4) + 1)) t(i))""".stripMargin

  val q277_sql: String =
    s"""WITH ${lshCtesFrom(weightedShCtes, LshK, 2)},
       |sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
       |inter AS (SELECT p.doc_a, p.doc_b, count(*) AS n_inter
       |          FROM pairs p
       |          JOIN sh a ON a.doc_id = p.doc_a
       |          JOIN sh b ON b.doc_id = p.doc_b AND a.shingle = b.shingle
       |          GROUP BY p.doc_a, p.doc_b),
       |wj AS (SELECT i.doc_a, i.doc_b,
       |         i.n_inter::DOUBLE / (sa.set_size + sb.set_size - i.n_inter)
       |           AS j
       |       FROM inter i
       |       JOIN sizes sa ON sa.doc_id = i.doc_a
       |       JOIN sizes sb ON sb.doc_id = i.doc_b
       |       WHERE i.n_inter::DOUBLE
       |               / (sa.set_size + sb.set_size - i.n_inter) >= 0.5),
       |bth AS (SELECT doc_a AS doc_id, doc_b AS partner, j FROM wj
       |         UNION ALL SELECT doc_b, doc_a, j FROM wj),
       |prof AS (SELECT doc_id, partner, j,
       |           count(*) OVER (PARTITION BY doc_id) AS n_dups,
       |           row_number() OVER (PARTITION BY doc_id
       |                              ORDER BY j DESC, partner DESC) AS rn
       |         FROM bth)
       |SELECT doc_id, n_dups::BIGINT AS n_dups, j AS max_wj,
       |       partner AS best_partner
       |FROM prof WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Mergeable MOMENTS sketch — exact weekly mean / variance / third
    * central moment per event type computed FROM DAILY PARTIALS alone
    * (n, Σv, Σv², Σv³ in DECIMAL(38,0)), never rescanning raw events:
    * the power-sum analog of q226's bitmap rollup and q227's HLL
    * register merge, completing the mergeable-sketch family for
    * numeric columns (distinct → bitmap/HLL/KMV, frequency → CMS,
    * moments → this). Power sums are the canonical mergeable summary —
    * a +-monoid, so any rollup (day → week → month, per-shard → global)
    * is one `sum` regardless of how the 100 TB scan was partitioned.
    * The ORACLE computes the same weekly stats directly from raw rows,
    * so the hash match IS the mergeability certificate (partial-merge
    * path ≡ direct path, exactly — no float: v is cents BIGINT, and
    * the central-moment identities n·Σv² − S1² and n²·Σv³ − 3n·S1·S2
    * + 2S1³ stay in DECIMAL(38,0); Spark `div` and DuckDB `//` both
    * truncate toward zero, so the signed m3 divides identically).
    * Emitted units: mean in cents·ppm, variance in cents²·ppm, m3 in
    * whole cents³ (no ppm — ×10⁶ would push |m3| past BIGINT at this
    * value scale). DECIMAL(38,0) headroom: n²·Σv³ < 10³⁸ holds below
    * ~10⁷ rows per (type, week) at cents scale; past that, pre-shard
    * weeks or drop to whole-unit values. */
  val q306_moments_sketch: Q = (s, d) => {
    val dec = (e: String) => expr(s"cast($e as decimal(38,0))")
    val daily = Tables.events(s, d)
      .select(col("event_type"),
        expr("unix_millis(ts) div 86400000").as("day"),
        expr("cast(round(value * 100) as decimal(38,0))").as("v"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s1"),
        sum(expr("v * v")).as("s2"), sum(expr("v * v * v")).as("s3"))
    daily
      .groupBy(col("event_type"), expr("day div 7").as("week"))
      .agg(sum(col("n")).as("n"), sum(col("s1")).as("s1"),
        sum(col("s2")).as("s2"), sum(col("s3")).as("s3"))
      .withColumn("nd", dec("n"))
      .select(col("event_type"), col("week"), col("n"),
        expr("cast((s1 * 1000000) div nd as bigint)").as("mean_ppm"),
        expr("cast(((nd * s2 - s1 * s1) * 1000000) div (nd * nd) as bigint)")
          .as("var_ppm"),
        expr("cast((nd * nd * s3 - 3 * nd * s1 * s2 + 2 * s1 * s1 * s1)" +
          " div (nd * nd * nd) as bigint)").as("m3"))
      .orderBy(col("event_type"), col("week"))
  }

  val q306_sql: String =
    """WITH e AS (SELECT event_type,
      |        epoch_ms(ts) // 86400000 // 7 AS week,
      |        CAST(round(value * 100) AS HUGEINT) AS v FROM events),
      |w AS (SELECT event_type, week, count(*)::HUGEINT AS n,
      |        sum(v) AS s1, sum(v * v) AS s2, sum(v * v * v) AS s3
      |      FROM e GROUP BY 1, 2)
      |SELECT event_type, week, n::BIGINT AS n,
      |       ((s1 * 1000000) // n)::BIGINT AS mean_ppm,
      |       (((n * s2 - s1 * s1) * 1000000) // (n * n))::BIGINT AS var_ppm,
      |       ((n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1)
      |        // (n * n * n))::BIGINT AS m3
      |FROM w ORDER BY event_type, week""".stripMargin
}
