package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Functions._
import graft.functions.Ilog2
import graft.io.Tables
import graft.operators.BloomPrefilter
import graft.transform.Star

import graft.llm.{AllPairs, Bpe, CmsAgg, Curation, Dedup, Hll, Importance, Ivf, Multimodal, Pq, Quantize, RandomProjection, RollingHash, Sampling, SemDedup, SetJoin, Similarity, Sketch, TextAnalysis}
import graft.queries.RelationalQueries._
import graft.queries.LlmQueries._

/** graph operators (link analysis, components, communities, paths) — split from the monolithic query registry
  * (round-8 maintainability); shared oracle-SQL helpers stay in the
  * origin object(s) (RelationalQueries / LlmQueries) with
  * package-private visibility. Same contract as every registry:
  * each `q<N>_<name>` query has a DuckDB `q<N>_sql` twin with identical
  * column names and deterministic ordering. */
object GraphQueries extends Registry {

  /** HITS hubs-and-authorities over the customer→supplier purchase graph,
    * two fixed-point rounds — the directed-graph complement of PageRank
    * (q129): authority(supplier) = Σ weight·hub(customer) over purchase
    * edges, hub = Σ weight·authority, each round sum-normalized to 1e6 in
    * EXACT integer arithmetic (decimal(38,0) partial sums, integral `div`
    * — no libm, no float drift; DuckDB replays in HUGEINT). Per round:
    * one edge⋈score hash join + one map-side-combined aggregate; the edge
    * list is built once and localCheckpoint'ed, score frames are bounded
    * by the entity counts. The oracle unrolls both rounds as CTEs. */
  val q199_hits: Q = (s, d) => {
    // shared staged purchase-edge build (see [[CoPurchase.purchaseEdges]])
    val e = CoPurchase.purchaseEdges(s, d)
      .select(col("c"), col("p"), col("w").cast("decimal(38,0)").as("w"))
    def normalize(raw: DataFrame, key: String, rawCol: String): DataFrame = {
      val tot = raw.agg(sum(col(rawCol)).cast("decimal(38,0)").as("TOT"))
      raw.crossJoin(broadcast(tot))
        .select(col(key), expr(s"($rawCol * 1000000) div TOT").as("score"))
    }
    val a1 = normalize(
      e.groupBy(col("p"))
        .agg((sum(col("w")) * lit(1000000L)).cast("decimal(38,0)").as("raw")),
      "p", "raw").localCheckpoint(true)
    val h1 = normalize(
      e.join(a1, Seq("p"))
        .groupBy(col("c"))
        .agg(sum(col("w") * col("score")).cast("decimal(38,0)").as("raw")),
      "c", "raw").localCheckpoint(true)
    val a2 = normalize(
      e.join(h1, Seq("c"))
        .groupBy(col("p"))
        .agg(sum(col("w") * col("score")).cast("decimal(38,0)").as("raw")),
      "p", "raw")
    a1.select(col("p"), col("score").as("auth1_fp"))
      .join(a2.select(col("p"), col("score").as("auth2_fp")), Seq("p"))
      .select(col("p").as("suppkey"), col("auth1_fp"), col("auth2_fp"))
      .orderBy(col("suppkey"))
  }

  val q199_sql: String =
    """WITH e AS (SELECT o_custkey AS c, l_suppkey AS p, count(*)::HUGEINT AS w
      |           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |           GROUP BY 1, 2),
      |a1r AS (SELECT p, sum(w) * 1000000 AS raw FROM e GROUP BY 1),
      |s1 AS (SELECT sum(raw) AS tot FROM a1r),
      |a1 AS (SELECT p, (raw * 1000000) // tot AS score FROM a1r, s1),
      |h1r AS (SELECT c, sum(e.w * a1.score) AS raw
      |        FROM e JOIN a1 USING (p) GROUP BY 1),
      |hh1 AS (SELECT sum(raw) AS tot FROM h1r),
      |h1 AS (SELECT c, (raw * 1000000) // tot AS score FROM h1r, hh1),
      |a2r AS (SELECT p, sum(e.w * h1.score) AS raw
      |        FROM e JOIN h1 USING (c) GROUP BY 1),
      |s2 AS (SELECT sum(raw) AS tot FROM a2r),
      |a2 AS (SELECT p, (raw * 1000000) // tot AS score FROM a2r, s2)
      |SELECT a1.p AS suppkey, a1.score::BIGINT AS auth1_fp,
      |       a2.score::BIGINT AS auth2_fp
      |FROM a1 JOIN a2 USING (p) ORDER BY suppkey""".stripMargin


  /** Co-visitation pairs: directed (event_type → later event_type) counts
    * for the next 3 events of the same user within a 30-minute lookahead
    * — the co-occurrence signal item-to-item recommenders train on. ONE
    * keyed window pass in the (user, tsm, event_id) sort class shared
    * with q220/q201 (three `lead` columns collapse into a single physical
    * window), a row-local time gate, then a map-side-combined count over
    * the |types|²-bounded pair domain. No self-join — the naive
    * events⋈events formulation shuffles the corpus twice and explodes on
    * hot users; the lead form is linear with bounded fan-out 3. */
  val q228_covisitation: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsm"), col("event_id"))
    val ev = Tables.events(s, d)
      .select(col("user_id"), unix_millis(col("ts")).as("tsm"),
        col("event_id"), col("event_type"))
    val pairs = (1 to 3).map { k =>
      ev.withColumn("b", lead(col("event_type"), k).over(w))
        .withColumn("b_tsm", lead(col("tsm"), k).over(w))
        .where(col("b").isNotNull && col("b_tsm") <= col("tsm") + 1800000L)
        .select(col("event_type").as("a"), col("b"))
    }.reduce(_ unionAll _)
    pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("a"), col("b"))
  }

  val q228_sql: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |             epoch_ms(ts) AS tsm FROM events),
      |l AS (SELECT event_type AS a, tsm,
      |        lead(event_type, 1) OVER w AS b1, lead(tsm, 1) OVER w AS t1,
      |        lead(event_type, 2) OVER w AS b2, lead(tsm, 2) OVER w AS t2,
      |        lead(event_type, 3) OVER w AS b3, lead(tsm, 3) OVER w AS t3
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsm, event_id)),
      |p AS (SELECT a, b1 AS b FROM l WHERE b1 IS NOT NULL AND t1 <= tsm + 1800000
      |      UNION ALL
      |      SELECT a, b2 FROM l WHERE b2 IS NOT NULL AND t2 <= tsm + 1800000
      |      UNION ALL
      |      SELECT a, b3 FROM l WHERE b3 IS NOT NULL AND t3 <= tsm + 1800000)
      |SELECT a, b, count(*)::BIGINT AS n_pairs FROM p
      |GROUP BY 1, 2 ORDER BY a, b""".stripMargin


  /** Local clustering coefficient over the part CO-PURCHASE graph (parts
    * linked when bought in the same order) — the neighborhood-density
    * signal behind "customers also bought" quality checks. Edge
    * generation is an equi-join on the order key with per-order fan-out
    * bounded by order size (≤ 7 lines), never all-pairs;
    * [[graft.operators.Triangles.perNode]] then counts each node's
    * triangles with degree-oriented wedges (out-degree O(√m) — a hub
    * part contributes no wedges from its own adjacency). The coefficient
    * is exact fixed-point: 2·tri·10⁶ div deg·(deg−1). */
  val q230_clustering_coeff: Q = (s, d) => {
    // shared staged edge set (see [[CoPurchase]]); perNode canonicalizes +
    // dedups internally, and the staged frame is already distinct
    val pairs = CoPurchase.edges(s, d)
    graft.operators.Triangles.perNode(pairs, "u", "v")
      .select(col("node"), col("deg"), col("n_tri"),
        when(col("deg") >= 2,
          expr("(2 * n_tri * 1000000) div (deg * (deg - 1))")).as("coeff_ppm"))
      .orderBy(col("node"))
  }

  val q230_sql: String =
    """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      |            FROM lineitem),
      |e AS (SELECT DISTINCT a.p AS u, b.p AS v FROM op a
      |      JOIN op b ON a.o = b.o AND a.p < b.p),
      |t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |      FROM e e1 JOIN e e2 ON e2.u = e1.v
      |                JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      |tn AS (SELECT node, count(*)::BIGINT AS n_tri FROM (
      |         SELECT a AS node FROM t UNION ALL SELECT b FROM t
      |         UNION ALL SELECT c FROM t) GROUP BY 1),
      |d AS (SELECT node, count(*)::BIGINT AS deg FROM (
      |        SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY 1)
      |SELECT d.node, deg, coalesce(n_tri, 0) AS n_tri,
      |       CASE WHEN deg >= 2
      |            THEN (2 * coalesce(n_tri, 0) * 1000000) // (deg * (deg - 1))
      |       END AS coeff_ppm
      |FROM d LEFT JOIN tn ON d.node = tn.node ORDER BY d.node""".stripMargin


  /** DEGREE ASSORTATIVITY (Newman 2002) of the part co-purchase graph:
    * the Pearson correlation of endpoint degrees over (symmetrized)
    * edges — positive means hubs buy with hubs, the one-number mixing
    * diagnostic for any similarity/interaction graph. Shape: the same
    * bounded-fan-out edge generation as q230, two keyed degree attaches,
    * then ONE map-side-combined sufficient-stats aggregate; the
    * correlation leaves integer arithmetic only in the final IEEE
    * division (symmetry makes the x/y moments equal, so r reduces to a
    * ratio of two exact integers; the raw moment sums are surfaced for
    * the hash check, and the final algebra runs in DECIMAL(38,0) /
    * HUGEINT because n·sxy and sx² pass 2^63 on graphs with ~10⁶ edges
    * and hub degrees in the thousands). */
  val q238_degree_assortativity: Q = (s, d) => {
    // shared staged edge set: both consumers (degree agg + the stats
    // attach) re-scan the staged parquet instead of re-running the build
    val e = CoPurchase.edges(s, d)
    val deg = e.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // symmetrization folded into the aggregate (each edge contributes
    // (du,dv) AND (dv,du)): one pass, no self-union re-execution
    val st = e
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
      .agg(count(lit(1)).as("n_edges"),
        sum(col("du") + col("dv")).as("sx"),
        sum(col("du") * col("du") + col("dv") * col("dv")).as("sxx"),
        sum(col("du") * col("dv") * 2).as("sxy"))
    // final algebra in DECIMAL(38,0): n·sxy and sx² pass 2^63 once edge
    // counts reach ~10^6 with hub degrees in the thousands
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    st.select(col("n_edges"),
        ((dec(col("n_edges")) * 2 * col("sxy") - dec(col("sx")) * col("sx"))
          .cast("double")
          / (dec(col("n_edges")) * 2 * col("sxx") - dec(col("sx")) * col("sx"))
          .cast("double")).as("assortativity"),
        col("sx"), col("sxx"), col("sxy"))
  }

  val q238_sql: String =
    """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      |            FROM lineitem),
      |e AS (SELECT DISTINCT a.p AS u, b.p AS v FROM op a
      |      JOIN op b ON a.o = b.o AND a.p < b.p),
      |dg AS (SELECT node, count(*)::BIGINT AS deg FROM (
      |         SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
      |st AS (SELECT count(*)::BIGINT AS n_edges,
      |              sum(du.deg + dv.deg)::BIGINT AS sx,
      |              sum(du.deg * du.deg + dv.deg * dv.deg)::BIGINT AS sxx,
      |              sum(du.deg * dv.deg * 2)::BIGINT AS sxy
      |       FROM e JOIN dg du ON du.node = e.u JOIN dg dv ON dv.node = e.v)
      |SELECT n_edges,
      |       CAST(n_edges::HUGEINT * 2 * sxy - sx::HUGEINT * sx AS DOUBLE)
      |         / CAST(n_edges::HUGEINT * 2 * sxx - sx::HUGEINT * sx AS DOUBLE)
      |         AS assortativity,
      |       sx, sxx, sxy
      |FROM st""".stripMargin


  /** NEGATIVE SAMPLING for link prediction over the co-purchase graph:
    * for every node, k deterministic hash-picked candidate partners,
    * ANTI-JOINED against the true edge set, top-3 kept by probe index —
    * the contrastive-training data prep step (each positive edge needs
    * non-edges, and at 100 TB they must come from hashing, not from
    * materializing the complement graph). Shapes: candidate generation
    * is row-local (k probes per node off a broadcast 1-row max-key), the
    * reject step is one keyed LEFT ANTI join against canonical edges,
    * and the keep-3 is [[graft.operators.TopK]]'s map-side-combined
    * aggregate (score = −probe index) — no window. md5-probe hashing
    * makes the sample replayable in the oracle. */
  val q247_negative_sampling: Q = (s, d) => {
    // shared staged edge set; consumers (node set + anti-join target)
    // re-scan the staged parquet
    val e = CoPurchase.edges(s, d)
    val nodes = e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node"))).distinct()
    val maxP = e.agg(greatest(max(col("u")), max(col("v"))).as("maxp"))
    val probes = nodes.crossJoin(broadcast(maxP))
      .select(col("node"), explode(expr("sequence(0, 5)")).as("j"),
        col("maxp"))
      .withColumn("cand",
        expr("1 + cast(conv(substr(md5(cast(node as string) || '|' " +
          "|| cast(j as string)), 1, 8), 16, 10) as long) % maxp"))
      .where(col("cand") =!= col("node"))
      .select(col("node"), col("j"), col("cand"))
    val canon = probes
      .withColumn("cu", least(col("node"), col("cand")))
      .withColumn("cv", greatest(col("node"), col("cand")))
    val nonEdges = canon.join(
        e.select(col("u").as("cu"), col("v").as("cv")),
        Seq("cu", "cv"), "left_anti")
      .select(col("node"), col("j"), col("cand"))
    graft.operators.TopK.topKByGroup(
        nonEdges.withColumn("negj", -col("j")), "node", "negj", "cand", 3)
      .select(col("node"), col("rank"), col("cand").as("negative"))
      .orderBy(col("node"), col("rank"))
  }

  val q247_sql: String =
    """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      |            FROM lineitem),
      |e AS (SELECT DISTINCT a.p AS u, b.p AS v FROM op a
      |      JOIN op b ON a.o = b.o AND a.p < b.p),
      |n AS (SELECT DISTINCT node FROM (
      |        SELECT u AS node FROM e UNION ALL SELECT v FROM e)),
      |mx AS (SELECT greatest(max(u), max(v)) AS maxp FROM e),
      |pr AS (SELECT node, j,
      |         1 + ('0x' || substr(md5(CAST(node AS VARCHAR) || '|'
      |             || CAST(j AS VARCHAR)), 1, 8))::BIGINT % maxp AS cand
      |       FROM n, (SELECT unnest(range(0, 6)) AS j), mx),
      |ne AS (SELECT node, j, cand FROM pr
      |       WHERE cand <> node
      |         AND NOT EXISTS (SELECT 1 FROM e
      |               WHERE e.u = least(node, cand)
      |                 AND e.v = greatest(node, cand))),
      |r AS (SELECT node, cand,
      |        row_number() OVER (PARTITION BY node ORDER BY j) AS rank
      |      FROM ne)
      |SELECT node, rank::BIGINT AS rank, cand AS negative FROM r
      |WHERE rank <= 3 ORDER BY node, rank""".stripMargin


  /** COMMON-NEIGHBOR link prediction over the co-purchase graph: for
    * every non-adjacent part pair sharing at least one neighbor, the
    * common-neighbor count and neighborhood-Jaccard score
    * (common / (d_a + d_b − common)) — the positive-candidate scorer
    * that complements q247's negatives. Shapes: pairs are generated AT
    * the shared pivot (fan-out deg², with a max-degree pivot cap — a
    * celebrity hub predicts nothing and would dominate the pair count),
    * counted map-side, degrees attach by two keyed joins, and true
    * edges leave via ONE keyed anti-join. Top 20 by (jaccard, pair) is
    * deterministic. Cost is bounded O(Σ min(deg, c)²) — unlike triangle
    * counting, common-neighbor pairs need EVERY pivot, so degree
    * orientation cannot prune; instead each pivot's candidate fan-out is
    * capped TWICE: a max-degree pivot cap (a celebrity hub predicts
    * nothing) and a per-pivot candidate SHORTLIST of the c
    * smallest-id neighbors (deterministic row_number rank, replayed
    * verbatim in the oracle), so pair generation is ≤ c²/2 per pivot no
    * matter how the degree mass is distributed. At 100 TB c is the
    * recall/cost knob, and the shuffle carries map-combined pair counts,
    * never raw wedges. */
  /** RESOURCE-ALLOCATION link index over the co-purchase graph — the
    * degree-weighted sibling of q253's raw common-neighbor count: each
    * shared pivot w contributes 1/deg(w), so a hub that everyone shares
    * is discounted and a rare shared neighbor dominates (the RA index
    * outperforms plain counts on product graphs). Closes the q241
    * numbering gap noted in the round-7 verdict. Shapes: identical
    * bounded fan-out as q253 — pivot-degree cap + per-pivot c=32
    * smallest-id shortlist (rank window shuffles on the join key, no
    * extra exchange), contributions as integer ppb (1e9 div deg —
    * exact on both engines, no float drift), summed map-side; true
    * edges leave via one broadcast anti-join. Top 20 by (ra, pair) is
    * deterministic. */
  val q241_resource_allocation: Q = (s, d) => {
    // shared staged builds: the aggregated link-pair frame (pair
    // fan-out + 10M-group aggregate paid once per session — see
    // [[CoPurchase.linkPairs]]) and the edge set for the anti-join
    CoPurchase.linkPairs(s, d)
      .join(broadcast(CoPurchase.edges(s, d)
          .select(col("u").as("a"), col("v").as("b"))),
        Seq("a", "b"), "left_anti")
      .select(col("a"), col("b"), col("n_common"), col("ra_ppb"))
      .orderBy(col("ra_ppb").desc, col("a"), col("b"))
      .limit(20)
  }

  val q241_sql: String =
    """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      |            FROM lineitem),
      |e AS (SELECT DISTINCT a.p AS u, b.p AS v FROM op a
      |      JOIN op b ON a.o = b.o AND a.p < b.p),
      |adj AS (SELECT u AS n, v AS nb FROM e
      |        UNION ALL SELECT v, u FROM e),
      |dg AS (SELECT n, count(*)::BIGINT AS deg FROM adj GROUP BY 1),
      |pv AS (SELECT adj.n, adj.nb, dg.deg FROM adj JOIN dg ON dg.n = adj.n
      |       WHERE dg.deg <= 500),
      |sh AS (SELECT n, nb, deg FROM pv
      |       QUALIFY row_number() OVER (PARTITION BY n ORDER BY nb) <= 32),
      |pr AS (SELECT x.nb AS a, y.nb AS b,
      |              sum(1000000000 // x.deg)::BIGINT AS ra_ppb,
      |              count(*)::BIGINT AS n_common
      |       FROM sh x JOIN sh y ON x.n = y.n AND x.nb < y.nb
      |       GROUP BY 1, 2)
      |SELECT a, b, n_common, ra_ppb FROM pr
      |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = pr.a AND e.v = pr.b)
      |ORDER BY ra_ppb DESC, a, b LIMIT 20""".stripMargin


  /** ADAMIC–ADAR link index over the co-purchase graph — the third of
    * the classic unsupervised link-prediction trio (q253 raw
    * common-neighbor count, q241 resource allocation's 1/deg, AA's
    * 1/log₂deg): each shared pivot w contributes 1/log₂(deg(w)),
    * discounting hubs more gently than RA — empirically the strongest
    * of the three on co-occurrence graphs (Liben-Nowell & Kleinberg,
    * CIKM 2003). Integer-exact across engines: a pivot's contribution
    * is (10⁹·2¹⁶) div ilog2_fp(deg) with [[graft.functions.Ilog2]]'s
    * 16-bit fixed-point log (so when deg = 2 the contribution is
    * exactly 10⁹ ppb, matching q241's unit). Pivots need deg ≥ 2 to
    * generate a pair, so the divisor is never 0 — the ≥ 2 filter is
    * explicit and drops nothing. Same bounded fan-out as q241/q253:
    * pivot-degree cap + per-pivot c=32 smallest-id shortlist (rank
    * window keyed on the self-join column — no extra exchange),
    * map-side-combined pair sums, one broadcast anti-join to drop true
    * edges. Σ of ≤ c contributions ≤ 3.2·10¹⁰ — BIGINT-safe at any
    * graph size because the shortlist, not the corpus, bounds it. */
  val q304_adamic_adar: Q = (s, d) => {
    // shared staged aggregated link pairs (every contribution has
    // deg ≥ 2 — a deg-1 pivot can't pair two neighbors — so the staged
    // aa_ppb sum replays the deg ≥ 2 pivot floor exactly); edges for
    // the anti-join
    CoPurchase.linkPairs(s, d)
      .join(broadcast(CoPurchase.edges(s, d)
          .select(col("u").as("a"), col("v").as("b"))),
        Seq("a", "b"), "left_anti")
      .select(col("a"), col("b"), col("n_common"), col("aa_ppb"))
      .orderBy(col("aa_ppb").desc, col("a"), col("b"))
      .limit(20)
  }

  val q304_sql: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      |            FROM lineitem),
      |e AS (SELECT DISTINCT a.p AS u, b.p AS v FROM op a
      |      JOIN op b ON a.o = b.o AND a.p < b.p),
      |adj AS (SELECT u AS n, v AS nb FROM e
      |        UNION ALL SELECT v, u FROM e),
      |dg AS (SELECT n, count(*)::BIGINT AS deg FROM adj GROUP BY 1),
      |pv AS (SELECT adj.n, adj.nb, dg.deg FROM adj JOIN dg ON dg.n = adj.n
      |       WHERE dg.deg <= 500 AND dg.deg >= 2),
      |sh AS (SELECT n, nb,
      |         (65536000000000 // (${Ilog2.sqlReplay("deg")}))::BIGINT AS aa_c
      |       FROM pv
      |       QUALIFY row_number() OVER (PARTITION BY n ORDER BY nb) <= 32),
      |pr AS (SELECT x.nb AS a, y.nb AS b,
      |              sum(x.aa_c)::BIGINT AS aa_ppb,
      |              count(*)::BIGINT AS n_common
      |       FROM sh x JOIN sh y ON x.n = y.n AND x.nb < y.nb
      |       GROUP BY 1, 2)
      |SELECT a, b, n_common, aa_ppb FROM pr
      |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = pr.a AND e.v = pr.b)
      |ORDER BY aa_ppb DESC, a, b LIMIT 20""".stripMargin


  val q253_common_neighbors: Q = (s, d) => {
    // shared staged aggregated link pairs ([[CoPurchase.linkPairs]]) —
    // the pair fan-out + aggregate this query used to rebuild
    val e = CoPurchase.edges(s, d)
    val adj = e.select(col("u").as("n"), col("v").as("nb"))
      .unionAll(e.select(col("v").as("n"), col("u").as("nb")))
    // deg has two consumers (the da/db attaches) but is deliberately NOT
    // localCheckpoint'ed: it's one cheap aggregate over the STAGED edge
    // parquet, and materializing it measured slower than recomputing it
    // (2.84s vs 1.89s idle) — the q121 fan-out lesson applies to
    // expensive upstreams, not to a groupBy over a scratch-file scan.
    val deg = adj.groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val pairs = CoPurchase.linkPairs(s, d)
      .select(col("a"), col("b"), col("n_common").as("common"))
    // the pair frame is the big side (≤ c²/2 per pivot); the edge list and
    // the degree table are both node/edge-scale — broadcast them so the
    // three attaches stay map-side (no re-shuffle of the pair frame).
    val scored = pairs
      .join(broadcast(e.select(col("u").as("a"), col("v").as("b"))),
        Seq("a", "b"), "left_anti")
      .join(broadcast(deg.select(col("n").as("a"), col("deg").as("da"))),
        Seq("a"))
      .join(broadcast(deg.select(col("n").as("b"), col("deg").as("db"))),
        Seq("b"))
      .withColumn("jaccard_ppm",
        expr("common * 1000000 div (da + db - common)"))
    scored.select(col("a"), col("b"), col("common"), col("da"), col("db"),
        col("jaccard_ppm"))
      .orderBy(col("jaccard_ppm").desc, col("a"), col("b"))
      .limit(20)
  }

  val q253_sql: String =
    """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      |            FROM lineitem),
      |e AS (SELECT DISTINCT a.p AS u, b.p AS v FROM op a
      |      JOIN op b ON a.o = b.o AND a.p < b.p),
      |adj AS (SELECT u AS n, v AS nb FROM e
      |        UNION ALL SELECT v, u FROM e),
      |dg AS (SELECT n, count(*)::BIGINT AS deg FROM adj GROUP BY 1),
      |pv AS (SELECT adj.n, adj.nb FROM adj JOIN dg ON dg.n = adj.n
      |       WHERE dg.deg <= 500),
      |sh AS (SELECT n, nb FROM pv
      |       QUALIFY row_number() OVER (PARTITION BY n ORDER BY nb) <= 32),
      |pr AS (SELECT x.nb AS a, y.nb AS b, count(*)::BIGINT AS common
      |       FROM sh x JOIN sh y ON x.n = y.n AND x.nb < y.nb
      |       GROUP BY 1, 2),
      |ne AS (SELECT pr.* FROM pr WHERE NOT EXISTS (
      |         SELECT 1 FROM e WHERE e.u = pr.a AND e.v = pr.b))
      |SELECT a, b, common, da.deg AS da, db.deg AS db,
      |       common * 1000000 // (da.deg + db.deg - common) AS jaccard_ppm
      |FROM ne JOIN dg da ON da.n = ne.a JOIN dg db ON db.n = ne.b
      |ORDER BY jaccard_ppm DESC, a, b LIMIT 20""".stripMargin


  /** Weighted shortest paths — [[graft.operators.Bfs.sssp]]: three
    * Bellman–Ford relaxation rounds over the part co-purchase graph with
    * a SIMILARITY DISTANCE weight (`w = max(1, 1e6 div common)` — parts
    * that co-occur in many orders sit close), from the `p_partkey % 100`
    * seed set. The (min, +) semiring upgrade of q206's hop BFS: "how far
    * is every part from the seed catalog, counting weak ties as long
    * edges" — the substitution-radius / related-item-distance shape.
    * Per round: one hash join + one map-side-combined min aggregate,
    * distance frames localCheckpoint'ed (the q129/q206 iterative
    * discipline); the oracle unrolls all three rounds as CTEs. Edge
    * weights stay BIGINT on both engines — min() never widens, and the
    * relax addition is row arithmetic, not an aggregate, so no HUGEINT
    * divergence is possible. */
  val q255_weighted_sssp: Q = (s, d) => {
    // shared staged WEIGHTED edge set (c = shared-order count)
    val e = CoPurchase.weightedEdges(s, d)
      .select(col("u"), col("v"),
        greatest(lit(1L), expr("1000000 div c")).as("w"))
    val seeds = Tables.part(s, d)
      .where(col("p_partkey") % 100 === 0).select(col("p_partkey"))
    graft.operators.Bfs.sssp(e, "u", "v", "w", seeds, rounds = 3)
      .orderBy(col("node"))
  }

  val q255_sql: String =
    """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      |            FROM lineitem),
      |e0 AS (SELECT a.p AS u, b.p AS v, count(*)::BIGINT AS c
      |       FROM op a JOIN op b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
      |e AS (SELECT u, v, greatest(1, 1000000 // c) AS w FROM e0
      |      UNION ALL SELECT v, u, greatest(1, 1000000 // c) FROM e0),
      |d0 AS (SELECT p_partkey AS node, 0::BIGINT AS dist FROM part
      |       WHERE p_partkey % 100 = 0),
      |d1 AS (SELECT node, min(dist) AS dist FROM (
      |         SELECT * FROM d0 UNION ALL
      |         SELECT e.v, d0.dist + e.w FROM d0 JOIN e ON e.u = d0.node)
      |       GROUP BY 1),
      |d2 AS (SELECT node, min(dist) AS dist FROM (
      |         SELECT * FROM d1 UNION ALL
      |         SELECT e.v, d1.dist + e.w FROM d1 JOIN e ON e.u = d1.node)
      |       GROUP BY 1),
      |d3 AS (SELECT node, min(dist) AS dist FROM (
      |         SELECT * FROM d2 UNION ALL
      |         SELECT e.v, d2.dist + e.w FROM d2 JOIN e ON e.u = d2.node)
      |       GROUP BY 1)
      |SELECT node, dist FROM d3 ORDER BY node""".stripMargin


  /** Large-star/small-star connected components certified on a DEEP graph:
    * consecutive-custkey chain edges broken at multiples of 29 give
    * components of diameter ~28 — past [[graft.operators.ConnectedComponents
    * .components]]'s default 20-round propagation budget (it would throw
    * here by design), so this query certifies the O(log n)
    * [[graft.operators.ConnectedComponents.componentsStar]] contraction
    * (Kiveris et al., SoCC'14) under a full recursive-CTE oracle — the
    * adversarial-shape companion to q61's diameter-2 bucket cliques. */
  val q128_cc_star_chain: Q = (s, d) => {
    val c = Tables.customer(s, d).select(col("c_custkey").as("k"))
    val edges = c.as("a").join(c.as("b"), col("b.k") === col("a.k") + 1)
      .where(col("a.k") % 29 =!= 0)
      .select(col("a.k").as("a"), col("b.k").as("b"))
    graft.operators.ConnectedComponents.componentsStar(edges, "a", "b")
      .select(col("id"), col("cluster_id"))
      .orderBy(col("id"))
  }

  val q128_sql: String =
    """WITH RECURSIVE e AS (
      |  SELECT a.c_custkey AS a, b.c_custkey AS b
      |  FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1
      |  WHERE a.c_custkey % 29 <> 0),
      |und AS (SELECT a AS src, b AS dst FROM e UNION SELECT b, a FROM e),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM und
      |  UNION
      |  SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src)
      |SELECT src AS id, least(src, min(dst)) AS cluster_id
      |FROM reach GROUP BY src ORDER BY id""".stripMargin


  /** Fixed-point PageRank over the supplier↔customer shipping graph
    * (edges both ways between a supplier and every customer it shipped to,
    * via lineitem⋈orders; supplier ids offset by 10⁶ into a shared node
    * space). Five power-iteration rounds in all-BIGINT arithmetic — the
    * oracle unrolls the identical five rounds as chained CTEs, so the
    * result is hash-exact (see [[graft.operators.PageRank]] for the
    * fixed-point recurrence and the dangling-mass contract). */
  val q129_pagerank: Q = (s, d) => {
    // staged purchase edges are already distinct (c, p) pairs
    val e0 = CoPurchase.purchaseEdges(s, d)
      .select((col("p") + 1000000L).as("src"), col("c").cast("long").as("dst"))
    // reversed pairs cannot collide with forward ones (disjoint id ranges),
    // so plain union IS the distinct undirected edge set
    val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
    graft.operators.PageRank.ranksFp(edges, "src", "dst", iters = 5)
      .orderBy(col("id"))
  }

  val q129_sql: String = {
    val rounds = (1 to 5).map { i =>
      s"""r$i AS (
         |  SELECT nodes.id,
         |         base + (85 * coalesce(s.s, 0)) // 100 AS r_fp
         |  FROM nodes CROSS JOIN params
         |  LEFT JOIN (
         |    SELECT e.dst AS id, sum(p.r_fp // deg.deg) AS s
         |    FROM e JOIN deg ON deg.src = e.src
         |         JOIN r${i - 1} p ON p.id = e.src
         |    GROUP BY e.dst) s ON s.id = nodes.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT l_suppkey + 1000000 AS src, o_custkey AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
       |nodes AS (SELECT DISTINCT src AS id FROM e),
       |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
       |params AS (
       |  SELECT (1000000000000 // count(*)) * 15 // 100 AS base FROM nodes),
       |r0 AS (
       |  SELECT id, 1000000000000 // (SELECT count(*) FROM nodes) AS r_fp
       |  FROM nodes),
       |$rounds
       |SELECT id, cast(r_fp AS BIGINT) AS r_fp FROM r5 ORDER BY id""".stripMargin
  }


  /** PageRank with FULL dangling-mass redistribution (Page et al.'s
    * complete treatment) on a DIRECTED supplier→customer graph — customers
    * never link out, so without redistribution their absorbed mass would
    * drain the total; with it, each round splits the dangling pool
    * `div n` across all nodes inside the damped term. Exercises the
    * `danglingRedistribute` flag on a graph where it matters (q129's
    * undirected graph has no dangling nodes by construction). */
  val q143_pagerank_dangling: Q = (s, d) => {
    // staged purchase edges are already distinct (c, p) pairs
    val edges = CoPurchase.purchaseEdges(s, d)
      .select((col("p") + 1000000L).as("src"), col("c").cast("long").as("dst"))
    graft.operators.PageRank.ranksFp(edges, "src", "dst", iters = 5,
        danglingRedistribute = true)
      .orderBy(col("id"))
  }

  val q143_sql: String = {
    val rounds = (1 to 5).map { i =>
      s"""dm$i AS (
         |  SELECT coalesce(sum(r_fp), 0) // (SELECT count(*) FROM nodes) AS share
         |  FROM r${i - 1} WHERE id NOT IN (SELECT src FROM deg)),
         |r$i AS (
         |  SELECT nodes.id,
         |         base + (85 * (coalesce(s.s, 0) + dm$i.share)) // 100 AS r_fp
         |  FROM nodes CROSS JOIN params CROSS JOIN dm$i
         |  LEFT JOIN (
         |    SELECT e.dst AS id, sum(p.r_fp // deg.deg) AS s
         |    FROM e JOIN deg ON deg.src = e.src
         |         JOIN r${i - 1} p ON p.id = e.src
         |    GROUP BY e.dst) s ON s.id = nodes.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT DISTINCT l_suppkey + 1000000 AS src, o_custkey AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |nodes AS (SELECT DISTINCT id FROM
       |  (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
       |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
       |params AS (
       |  SELECT (1000000000000 // count(*)) * 15 // 100 AS base FROM nodes),
       |r0 AS (
       |  SELECT id, 1000000000000 // (SELECT count(*) FROM nodes) AS r_fp
       |  FROM nodes),
       |$rounds
       |SELECT id, cast(r_fp AS BIGINT) AS r_fp FROM r5 ORDER BY id""".stripMargin
  }


  /** Triangle census of the near-dup graph — [[graft.operators.Triangles]]
    * (degree-ordered compact-forward) over q23's LSH candidate pairs:
    * near-dup clusters are cliques, so the triangle count and the global
    * clustering coefficient (3·tri/wedges) measure how CLUSTERED the
    * candidate graph is — the diagnostic that separates genuine dup
    * clusters from hash-collision noise before running CC. */
  val q177_neardup_triangles: Q = (s, d) => {
    val pairs = DocLsh.pairs(s, d) // shared staged pipeline
    graft.operators.Triangles.stats(pairs, "doc_a", "doc_b")
  }

  val q177_sql: String =
    s"""WITH ${lshCtes(LshK, LshBands)},
       |e AS (SELECT DISTINCT least(doc_a, doc_b) AS u, greatest(doc_a, doc_b) AS v
       |      FROM pairs WHERE doc_a <> doc_b),
       |d AS (SELECT node, count(*)::BIGINT AS deg FROM (
       |        SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
       |o AS (SELECT CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS src,
       |             CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS dst,
       |             CASE WHEN du < dv OR (du = dv AND u < v) THEN dv ELSE du END AS ddst
       |      FROM (SELECT e.u, e.v, a.deg AS du, b.deg AS dv
       |            FROM e JOIN d a ON a.node = e.u JOIN d b ON b.node = e.v)),
       |w AS (SELECT e1.dst AS wsrc, e2.dst AS wdst FROM o e1 JOIN o e2
       |      ON e1.src = e2.src AND (e1.ddst < e2.ddst
       |         OR (e1.ddst = e2.ddst AND e1.dst < e2.dst)))
       |SELECT (SELECT count(*) FROM d)::BIGINT AS n_nodes,
       |       (SELECT count(*) FROM e)::BIGINT AS n_edges,
       |       (SELECT count(*) FROM w)::BIGINT AS n_wedges,
       |       (SELECT count(*) FROM w WHERE EXISTS (SELECT 1 FROM o
       |          WHERE o.src = w.wsrc AND o.dst = w.wdst))::BIGINT AS n_triangles""".stripMargin


  /** 2-core of the near-dup candidate graph — [[graft.operators.KCore]]:
    * bulk-synchronous peeling with in-band convergence, budgeted at 6
    * rounds; the oracle replays EXACTLY 6 generated peel rounds (early
    * exit on convergence is a semantic no-op, so the two agree — the
    * PageRank fixed-round discipline). Pendant collision edges peel away;
    * clique-ish dup clusters survive with their core degrees. */
  val q190_kcore: Q = (s, d) => {
    val pairs = DocLsh.pairs(s, d) // shared staged pipeline
    graft.operators.KCore.peel(pairs, "doc_a", "doc_b", 2, maxRounds = 6)
      .orderBy(col("node"))
  }

  val q190_sql: String = {
    // AS MATERIALIZED: each round references its predecessor 3× — inlined,
    // the plan (and its parquet scans) would grow 3^6-fold
    val rounds = (1 to 6).map { r =>
      val p = r - 1
      s"""d$p AS MATERIALIZED (SELECT node, count(*)::BIGINT AS deg FROM (
         |  SELECT u AS node FROM e$p UNION ALL SELECT v FROM e$p) GROUP BY 1),
         |e$r AS MATERIALIZED (SELECT e$p.u, e$p.v FROM e$p
         |  JOIN d$p a ON a.node = e$p.u JOIN d$p b ON b.node = e$p.v
         |  WHERE a.deg >= 2 AND b.deg >= 2)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${lshCtes(LshK, LshBands)},
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT least(doc_a, doc_b) AS u, greatest(doc_a, doc_b) AS v
       |  FROM pairs WHERE doc_a <> doc_b),
       |$rounds
       |SELECT node, count(*)::BIGINT AS core_deg FROM (
       |  SELECT u AS node FROM e6 UNION ALL SELECT v FROM e6)
       |GROUP BY 1 ORDER BY node""".stripMargin
  }


  /** Plurality label-propagation communities — [[graft.operators.Lpa]]
    * over the q23 LSH near-dup graph: three SYNCHRONOUS rounds where each
    * node adopts its neighbors' plurality label (ties to the smallest — a
    * window-free `min(struct(-cnt, label))` election per node), splitting
    * dense near-dup regions into communities where CC's min-label rule
    * (q61) would merge them. Per round: one node-id hash join + one
    * two-level map-side-combined aggregate, label state checkpointed flat.
    * The oracle unrolls the three rounds as materialized CTEs with the
    * identical `count DESC, label ASC` election. */
  val q195_lpa_communities: Q = (s, d) => {
    val pairs = DocLsh.pairs(s, d) // shared staged pipeline
    graft.operators.Lpa.communities(pairs, "doc_a", "doc_b", rounds = 3)
      .orderBy(col("node"))
  }

  val q195_sql: String = {
    val rounds = (1 to 3).map { r =>
      val p = r - 1
      s"""l$r AS MATERIALIZED (
         |  SELECT node, label FROM (
         |    SELECT e.v AS node, l.label, count(*) AS cnt,
         |           row_number() OVER (PARTITION BY e.v
         |             ORDER BY count(*) DESC, l.label) AS rn
         |    FROM e JOIN l$p l ON l.node = e.u
         |    GROUP BY e.v, l.label) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${lshCtes(LshK, LshBands)},
       |e AS MATERIALIZED (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs WHERE doc_a <> doc_b
       |  UNION
       |  SELECT doc_b, doc_a FROM pairs WHERE doc_a <> doc_b),
       |l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM e),
       |$rounds
       |SELECT node, label FROM l3 ORDER BY node""".stripMargin
  }


  /** Multi-source BFS hop distance over the near-dup candidate graph —
    * [[graft.operators.Bfs]]: how many near-dup hops separate each
    * document from a seed set (here every 50th doc, standing in for a
    * known-contaminated list) — the blast-radius audit for
    * contamination spread through duplicate chains. Three synchronous
    * min-relaxation rounds (per round: one node-id hash join + one
    * map-side-combined min agg, state localCheckpoint'ed flat); the
    * oracle replays the rounds as three materialized CTEs over the same
    * LSH pair set. */
  val q206_bfs_hops: Q = (s, d) => {
    val pairs = DocLsh.pairs(s, d) // shared staged pipeline
    val seeds = Tables.documents(s, d)
      .where(col("doc_id") % 50 === 0).select(col("doc_id"))
    graft.operators.Bfs.hops(pairs, "doc_a", "doc_b", seeds, rounds = 3)
      .orderBy(col("node"))
  }

  val q206_sql: String = {
    val rounds = (1 to 3).map { r =>
      val p = r - 1
      s"""d$r AS MATERIALIZED (
         |  SELECT node, min(dist)::BIGINT AS dist FROM (
         |    SELECT node, dist FROM d$p
         |    UNION ALL
         |    SELECT e.v AS node, d$p.dist + 1 FROM e JOIN d$p ON d$p.node = e.u)
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${lshCtes(LshK, LshBands)},
       |e AS MATERIALIZED (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs WHERE doc_a <> doc_b
       |  UNION
       |  SELECT doc_b, doc_a FROM pairs WHERE doc_a <> doc_b),
       |d0 AS MATERIALIZED (
       |  SELECT DISTINCT doc_id AS node, 0::BIGINT AS dist FROM documents
       |  WHERE doc_id % 50 = 0),
       |$rounds
       |SELECT node, dist FROM d3 ORDER BY node""".stripMargin
  }


  /** WEIGHTED PageRank over the co-purchase graph —
    * [[graft.operators.PageRank.ranksFpWeighted]]: edge weight = the
    * co-purchase count, so a part that co-occurs with a neighbor in 100
    * orders pulls 100× the rank of a one-off pairing; q129/q143's
    * uniform split can't express that. Three power-iteration rounds,
    * each ONE hash join + ONE map-side-combined sum on integral fixed
    * point; the oracle unrolls all three rounds as generated CTEs (the
    * q129 discipline) with the identical `r·w div Σw` contribution, so
    * every rank hash-matches. */
  val q267_weighted_pagerank: Q = (s, d) => {
    // shared staged WEIGHTED edge set (c = shared-order count)
    val e0 = CoPurchase.weightedEdges(s, d).select(col("u"), col("v"),
      col("c").as("w"))
    val e = e0.unionAll(e0.select(col("v").as("u"), col("u").as("v"), col("w")))
    graft.operators.PageRank.ranksFpWeighted(e, "u", "v", "w", iters = 3)
      .orderBy(col("id"))
  }

  private def wprRound(i: Int): String = {
    val prev = if (i == 1) "r0" else s"r${i - 1}"
    s"""s$i AS (SELECT ew.v AS id, sum(d.r_fp * ew.w // ew.sw)::BIGINT AS s
       |        FROM $prev d JOIN ew ON ew.u = d.id GROUP BY 1),
       |r$i AS (SELECT nodes.id,
       |          ((1000000000000 // n) * 15 // 100
       |           + 85 * coalesce(s.s, 0) // 100)::BIGINT AS r_fp
       |        FROM nodes CROSS JOIN cnt LEFT JOIN s$i s ON s.id = nodes.id)""".stripMargin
  }

  val q267_sql: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |            FROM lineitem),
       |e0 AS (SELECT a.p AS u, b.p AS v, count(*)::BIGINT AS w
       |       FROM op a JOIN op b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
       |e AS (SELECT u, v, w FROM e0 UNION ALL SELECT v, u, w FROM e0),
       |nodes AS (SELECT u AS id FROM e UNION SELECT v FROM e),
       |cnt AS (SELECT count(*)::BIGINT AS n FROM nodes),
       |sw AS (SELECT u, sum(w)::BIGINT AS sw FROM e GROUP BY 1),
       |ew AS (SELECT e.u, e.v, e.w, sw.sw FROM e JOIN sw USING (u)),
       |r0 AS (SELECT id, (1000000000000 // n)::BIGINT AS r_fp
       |       FROM nodes CROSS JOIN cnt),
       |${wprRound(1)},
       |${wprRound(2)},
       |${wprRound(3)}
       |SELECT id, r_fp FROM r3 ORDER BY id""".stripMargin

  // ---- q404: degree assortativity of the co-purchase graph ---------------

  /** Degree assortativity (Newman 2002) of the bipartite customer-supplier
    * co-purchase graph: the Pearson correlation of endpoint degrees across
    * edges — do high-degree customers buy from high-degree suppliers
    * (assortative, r > 0) or from the long tail (disassortative, r < 0)?
    * The number that predicts how a graph-partitioned workload skews: an
    * assortative graph concentrates its heavy rows in the same partitions.
    * Held exact the q326 way — the SIGNED SQUARE in basis points,
    * sign(num)·num²·10⁴ div (denx·deny) with num = mΣxy − ΣxΣy and
    * denx/deny the usual variance clearings — so no square root ever
    * exists; NULL when either side's degrees are constant (den = 0 —
    * fail closed). Integer ranges: num² needs DECIMAL(38,0)/HUGEINT and
    * tops out around m ≈ 10¹⁰ edges at degree ~10³ (q326's documented
    * family bound). Shapes: degree tables are node-bounded aggregates,
    * the edge-degree attach is two keyed equi-joins, the statistic is one
    * map-side-combinable 1-row aggregate — nothing quadratic. */
  val q404_assortativity: Q = (s, d) =>
    assortativity(CoPurchase.purchaseEdges(s, d).select(col("c"), col("p")))

  /** Core over a raw (c, p) edge list — fuzz/stress entry point
    * (disjoint replicas leave the signed r² exactly invariant: every
    * moment scales by K, the ratio's K⁴ cancels before the one floor). */
  def assortativity(e: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val dc = e.groupBy(col("c")).agg(count(lit(1)).as("dx"))
    val dp = e.groupBy(col("p")).agg(count(lit(1)).as("dy"))
    e.join(dc, Seq("c")).join(dp, Seq("p"))
      .agg(count(lit(1)).as("m"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(expr(s"cast(dx as $dec) * dy")).as("sxy"),
        sum(expr(s"cast(dx as $dec) * dx")).as("sxx"),
        sum(expr(s"cast(dy as $dec) * dy")).as("syy"))
      .select(col("m").as("n_edges"),
        expr(s"cast(m as $dec) * sxy - cast(sx as $dec) * sy").as("__num"),
        expr(s"cast(m as $dec) * sxx - cast(sx as $dec) * sx").as("__denx"),
        expr(s"cast(m as $dec) * syy - cast(sy as $dec) * sy").as("__deny"))
      .select(col("n_edges"),
        expr("""cast(
            (case when __num >= 0 then 1 else -1 end) * __num * __num * 10000
            div nullif(__denx * __deny, 0)
          as bigint)""").as("assort_bp_signed"))
  }
  val q404_sql: String =
    """WITH e AS (SELECT o_custkey AS c, l_suppkey AS p, count(*) AS w
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  GROUP BY 1, 2),
      |dc AS (SELECT c, count(*)::HUGEINT AS dx FROM e GROUP BY 1),
      |dp AS (SELECT p, count(*)::HUGEINT AS dy FROM e GROUP BY 1),
      |agg AS (SELECT count(*)::HUGEINT AS m, sum(dx)::HUGEINT AS sx,
      |    sum(dy)::HUGEINT AS sy, sum(dx * dy)::HUGEINT AS sxy,
      |    sum(dx * dx)::HUGEINT AS sxx, sum(dy * dy)::HUGEINT AS syy
      |  FROM e JOIN dc USING (c) JOIN dp USING (p)),
      |r AS (SELECT m, m * sxy - sx * sy AS num, m * sxx - sx * sx AS denx,
      |    m * syy - sy * sy AS deny
      |  FROM agg)
      |SELECT m::BIGINT AS n_edges,
      |  ((CASE WHEN num >= 0 THEN 1 ELSE -1 END) * num * num * 10000
      |   // nullif(denx * deny, 0))::BIGINT AS assort_bp_signed
      |FROM r""".stripMargin
}
