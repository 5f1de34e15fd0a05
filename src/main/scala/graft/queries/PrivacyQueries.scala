package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Ilog2
import graft.io.Tables

/** Privacy-risk audit over the released `events` log — the gate a
  * training-data pipeline runs before shipping user-derived telemetry
  * into a corpus: k-anonymity (Sweeney 2002), distinct/entropy
  * l-diversity (Machanavajjhala et al. 2007), and t-closeness via exact
  * earth-mover distance on the quantized sensitive domain (Li, Li,
  * Venkatasubramanian 2007).
  *
  * The released view is record-level: quasi-identifier = (event_type,
  * event day), sensitive attribute = the `props.k` payload (domain
  * [0, 99]). All three audits reduce the corpus to the CLASS frame —
  * |event types| x |calendar days| rows, calendar-bounded regardless of
  * corpus size — in ONE map-side-combinable aggregate pass; everything
  * after is bounded-frame algebra. Entropy goes through the libm-free
  * [[graft.functions.Ilog2]] fold so the DuckDB oracle replays every
  * log bit-for-bit; the t-closeness EMD is the q336 cross-multiplied
  * cumulative form (no fraction until the final ppm division).
  *
  * Scale notes (100 TB): the only corpus-scale operation in each query
  * is the first groupBy (classes, class x sensitive-value, or class x
  * sensitive-bucket — all with calendar x domain-bounded key spaces, so
  * partial aggregation absorbs the volume map-side). Row counts enter
  * ppm arithmetic through DECIMAL(38,0) before any multiplication, safe
  * past 10^12-row classes.
  */
object PrivacyQueries extends Registry {

  private val dec = "decimal(38,0)"

  /** The released record-level view: quasi-identifier (g = event_type,
    * day) + sensitive payload. One row per released record. */
  private[graft] def release(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_type").as("g"),
      date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
      expr("try_cast(get_json_object(props, '$.k') as long)").as("sens"))

  private val relCte: String =
    """rel AS (SELECT event_type AS g,
      |          strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      |          TRY_CAST(json_extract(props, '$.k') AS BIGINT) AS sens
      |        FROM events)""".stripMargin

  // ---- q346: k-anonymity audit -------------------------------------------

  /** Per (event_type, k-threshold in {2, 5, 10}): how far is the release
    * from k-anonymous? Reports the class census (count, smallest class)
    * plus the suppression cost — classes below k, records inside them,
    * and the record-suppression rate in ppm (the fraction of the release
    * that would have to be withheld for the k-anonymity property to
    * hold). The threshold explode happens on the ALREADY-REDUCED class
    * frame, so the corpus is scanned once. viol_rows·10⁶ stays inside
    * BIGINT until 9·10¹² released rows per event type; the division is
    * exact integral. */
  def kAnonymity(rel: DataFrame): DataFrame =
    kAnonymityFromClasses(rel.groupBy(col("g"), col("day"))
      .agg(count(lit(1)).as("c")))

  /** The verdict half of [[kAnonymity]], parameterized by the class
    * census (g, day, c) — shared with the streaming certification,
    * whose census comes out of the state store instead of a batch
    * groupBy. */
  def kAnonymityFromClasses(cls: DataFrame): DataFrame = {
    cls.select(col("g"), col("c"),
        explode(array(lit(2L), lit(5L), lit(10L))).as("k_req"))
      .groupBy(col("g"), col("k_req"))
      .agg(count(lit(1)).as("n_classes"),
        sum(col("c")).as("n_rows"),
        min(col("c")).as("min_class"),
        sum(when(col("c") < col("k_req"), 1L).otherwise(0L))
          .as("viol_classes"),
        sum(when(col("c") < col("k_req"), col("c")).otherwise(0L))
          .as("viol_rows"))
      .withColumn("suppress_ppm", expr(
        s"cast(cast(viol_rows as $dec) * 1000000 div nullif(n_rows, 0) as bigint)"))
      .select(col("g").as("event_type"), col("k_req"), col("n_classes"),
        col("n_rows"), col("min_class"), col("viol_classes"),
        col("viol_rows"), col("suppress_ppm"))
      .orderBy(col("event_type"), col("k_req"))
  }
  val q346_k_anonymity: Q = (s, d) => kAnonymity(release(s, d))
  val q346_sql: String =
    s"""WITH $relCte,
      |cls AS (SELECT g, day, count(*)::BIGINT AS c FROM rel GROUP BY 1, 2),
      |x AS (SELECT g, c, unnest([2, 5, 10])::BIGINT AS k_req FROM cls)
      |SELECT g AS event_type, k_req, count(*)::BIGINT AS n_classes,
      |  sum(c)::BIGINT AS n_rows, min(c)::BIGINT AS min_class,
      |  sum(CASE WHEN c < k_req THEN 1 ELSE 0 END)::BIGINT AS viol_classes,
      |  sum(CASE WHEN c < k_req THEN c ELSE 0 END)::BIGINT AS viol_rows,
      |  (sum(CASE WHEN c < k_req THEN c ELSE 0 END)::HUGEINT * 1000000
      |   // nullif(sum(c), 0))::BIGINT AS suppress_ppm
      |FROM x GROUP BY 1, 2 ORDER BY event_type, k_req""".stripMargin

  // ---- q347: l-diversity audit -------------------------------------------

  /** Distinct AND entropy l-diversity per equivalence class, rolled up
    * per event type: the smallest number of distinct sensitive values
    * any class carries, how many classes fail distinct-3-diversity, the
    * minimum class entropy H = log2 n − (Σ c·log2 c)/n in [[Ilog2]]
    * 16-bit fixed point, and how many classes fail entropy-2-diversity
    * (H < log2 2 = 65536 fp). A class whose every record shares one
    * sensitive value (H = 0, l = 1) is a direct attribute-disclosure
    * channel; the entropy form also catches skewed classes that pass
    * the distinct count. Records with a NULL sensitive payload are
    * excluded on both sides (they disclose nothing). Shapes: one
    * (g, day, sens) count — calendar x domain-bounded keys — then
    * bounded-frame folds. */
  def lDiversity(rel: DataFrame): DataFrame = {
    val il = Ilog2.ilog2 _
    val sv = rel.where(col("sens").isNotNull)
      .groupBy(col("g"), col("day"), col("sens"))
      .agg(count(lit(1)).as("c"))
    val cls = sv.groupBy(col("g"), col("day"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("l_distinct"),
        sum(col("c") * il(col("c"))).as("s_fp"))
      .withColumn("h_fp", il(col("n")) - expr("s_fp div n"))
    cls.groupBy(col("g"))
      .agg(count(lit(1)).as("n_classes"),
        min(col("l_distinct")).as("min_l"),
        sum(when(col("l_distinct") < 3, 1L).otherwise(0L))
          .as("classes_fail_l3"),
        min(col("h_fp")).as("min_h_fp"),
        sum(when(col("h_fp") < Ilog2.One, 1L).otherwise(0L))
          .as("classes_fail_h2"))
      .select(col("g").as("event_type"), col("n_classes"), col("min_l"),
        col("classes_fail_l3"), col("min_h_fp"), col("classes_fail_h2"))
      .orderBy(col("event_type"))
  }
  val q347_l_diversity: Q = (s, d) => lDiversity(release(s, d))
  val q347_sql: String =
    s"""WITH $relCte,
      |sv AS (SELECT g, day, sens, count(*)::BIGINT AS c FROM rel
      |       WHERE sens IS NOT NULL GROUP BY 1, 2, 3),
      |cls AS (SELECT g, day, sum(c)::BIGINT AS n,
      |          count(*)::BIGINT AS l_distinct,
      |          sum(c * ${Ilog2.sqlReplay("c")})::BIGINT AS s_fp
      |        FROM sv GROUP BY 1, 2),
      |h AS (SELECT g, day, n, l_distinct,
      |        (${Ilog2.sqlReplay("n")} - s_fp // n)::BIGINT AS h_fp
      |      FROM cls)
      |SELECT g AS event_type, count(*)::BIGINT AS n_classes,
      |  min(l_distinct)::BIGINT AS min_l,
      |  sum(CASE WHEN l_distinct < 3 THEN 1 ELSE 0 END)::BIGINT
      |    AS classes_fail_l3,
      |  min(h_fp)::BIGINT AS min_h_fp,
      |  sum(CASE WHEN h_fp < 65536 THEN 1 ELSE 0 END)::BIGINT
      |    AS classes_fail_h2
      |FROM h GROUP BY 1 ORDER BY event_type""".stripMargin

  // ---- q348: t-closeness audit (exact EMD on the bucketed domain) ---------

  /** t-closeness: for every equivalence class, the earth-mover distance
    * between its sensitive-bucket distribution (sens div 10 — ten
    * ordered deciles of the [0,99] domain) and the GLOBAL release
    * distribution, normalized by the domain diameter (B−1) so t ∈
    * [0, 1]; rolled up per event type as the worst class, the count
    * over the conventional t = 0.2 gate, and the class census. The EMD
    * is exact on the ordered buckets — Σ_b |F_class(b) − F_global(b)|
    * cross-multiplied to |cum_c·N − cum_g·n_c| (q336's form: no
    * fraction until the single ppm division by n_c·N·(B−1)). Absent
    * buckets matter (a class missing a decile IS skew), so the class x
    * bucket grid is generated explicitly from the bounded bucket list
    * and zero-filled before the cumulative windows — both windows run
    * on the calendar x 10 grid, never on corpus rows. cum_c·N needs
    * DECIMAL(38,0) (10¹² · 10¹² exceeds BIGINT). */
  def tCloseness(relIn: DataFrame): DataFrame = {
    val rel = relIn.where(col("sens").isNotNull)
      .withColumn("b", expr("sens div 10"))
      .localCheckpoint(true) // consumers: class-bucket, global-bucket, class-n
    val cb = rel.groupBy(col("g"), col("day"), col("b"))
      .agg(count(lit(1)).as("c"))
    val gbRaw = rel.groupBy(col("b")).agg(count(lit(1)).as("c_g"))
    val gb = gbRaw.withColumn("g0", lit(0))
      .withColumn("cum_g", sum(col("c_g")).over(
        Window.partitionBy(col("g0")).orderBy(col("b")) // domain-bounded: <= 10 rows
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(gbRaw.agg(sum(col("c_g")).as("n_g"),
        count(lit(1)).as("n_buckets"))))
    val clsN = rel.groupBy(col("g"), col("day")).agg(count(lit(1)).as("n_c"))
    val grid = clsN.crossJoin(broadcast(gb.select(col("b"), col("cum_g"),
        col("n_g"), col("n_buckets"))))
      .join(cb, Seq("g", "day", "b"), "left").na.fill(0L, Seq("c"))
      .withColumn("cum_c", sum(col("c")).over(
        Window.partitionBy(col("g"), col("day")).orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val emd = grid.groupBy(col("g"), col("day"))
      .agg(first(col("n_c")).as("n_c"), first(col("n_g")).as("n_g"),
        first(col("n_buckets")).as("nb"),
        sum(expr(s"abs(cast(cum_c as $dec) * n_g - cast(cum_g as $dec) * n_c)"))
          .as("num"))
      .withColumn("emd_ppm", expr(s"""cast(
          (num * 1000000) div nullif(cast(n_c as $dec) * n_g * (nb - 1), 0)
        as bigint)"""))
    emd.groupBy(col("g"))
      .agg(count(lit(1)).as("n_classes"),
        max(col("emd_ppm")).as("max_emd_ppm"),
        sum(when(col("emd_ppm") > 200000L, 1L).otherwise(0L))
          .as("classes_over_t20"))
      .select(col("g").as("event_type"), col("n_classes"),
        col("max_emd_ppm"), col("classes_over_t20"))
      .orderBy(col("event_type"))
  }
  val q348_t_closeness: Q = (s, d) => tCloseness(release(s, d))
  val q348_sql: String =
    s"""WITH $relCte,
      |r2 AS (SELECT g, day, sens // 10 AS b FROM rel WHERE sens IS NOT NULL),
      |cb AS (SELECT g, day, b, count(*)::BIGINT AS c FROM r2 GROUP BY 1, 2, 3),
      |gbr AS (SELECT b, count(*)::BIGINT AS c_g FROM r2 GROUP BY 1),
      |gt AS (SELECT sum(c_g)::BIGINT AS n_g, count(*)::BIGINT AS n_buckets
      |       FROM gbr),
      |gb AS (SELECT b, sum(c_g) OVER (ORDER BY b)::BIGINT AS cum_g, n_g,
      |         n_buckets
      |       FROM gbr CROSS JOIN gt),
      |clsn AS (SELECT g, day, count(*)::BIGINT AS n_c FROM r2 GROUP BY 1, 2),
      |grid AS (SELECT clsn.g, clsn.day, gb.b, clsn.n_c, gb.cum_g, gb.n_g,
      |           gb.n_buckets, coalesce(cb.c, 0)::BIGINT AS c
      |         FROM clsn CROSS JOIN gb
      |         LEFT JOIN cb ON cb.g = clsn.g AND cb.day = clsn.day
      |           AND cb.b = gb.b),
      |cum AS (SELECT *, sum(c) OVER (PARTITION BY g, day ORDER BY b)::BIGINT
      |          AS cum_c
      |        FROM grid),
      |emd AS (SELECT g, day, any_value(n_c) AS n_c, any_value(n_g) AS n_g,
      |          any_value(n_buckets) AS nb,
      |          sum(abs(cum_c::HUGEINT * n_g - cum_g::HUGEINT * n_c))::HUGEINT
      |            AS num
      |        FROM cum GROUP BY 1, 2),
      |e2 AS (SELECT g, day,
      |         ((num * 1000000)
      |          // nullif(n_c::HUGEINT * n_g * (nb - 1), 0))::BIGINT
      |           AS emd_ppm
      |       FROM emd)
      |SELECT g AS event_type, count(*)::BIGINT AS n_classes,
      |  max(emd_ppm)::BIGINT AS max_emd_ppm,
      |  sum(CASE WHEN emd_ppm > 200000 THEN 1 ELSE 0 END)::BIGINT
      |    AS classes_over_t20
      |FROM e2 GROUP BY 1 ORDER BY event_type""".stripMargin
}
