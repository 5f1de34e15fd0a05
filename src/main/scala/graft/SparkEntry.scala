package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

import graft.queries._

/** The engine's query surface (module layout: SURVEY.md §7).
  * Queries live in `graft.queries.*`, one [[graft.queries.Registry]]
  * object per family (relational core / tpch / analytics / graph / sketch /
  * llm text+dedup / ann / curation / multimodal / streaming); each declares
  * a query as `q<N>_<name>: Q` next to its DuckDB oracle `q<N>_sql`, with
  * identical column names and deterministic ordering. `families` is the one
  * list of them, kept HERE (and only here) so the family objects stay
  * acyclic; a new family goes into it.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.q16_join_multi(spark, "/root/testdata/sf0.001")

  /** Every query family, once. Lazy, so `entry` alone does not initialise
    * every family. */
  private[graft] lazy val families: Seq[Registry] = Seq(
    RelationalQueries, TpchQueries, AnalyticsQueries, ForecastQueries,
    GraphQueries, SketchQueries, LlmQueries, TextMiningQueries,
    LlmTextQueries, AnnQueries, CurationQueries, CurationAuditQueries,
    MultimodalQueries, InfoQueries, EvalQueries, AgreementTestQueries,
    ResamplingQueries, LexicalQueries, PrivacyQueries, CalibrationQueries,
    ClusterQualityQueries, ExperimentQueries, HypothesisQueries,
    HypothesisCompositionQueries, StreamingQueries, StreamingCertQueries,
    RecoveryCertQueries)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    families.map(_.defs).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] = families.map(_.oracles).reduce(_ ++ _)
}
