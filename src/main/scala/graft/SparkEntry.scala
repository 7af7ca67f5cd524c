package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._
import graft.queries.TimeSeriesQueries.anomalyFeatures

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each with a DuckDB oracle in `oracleSql`. The entries
  * live in the `graft.queries` domain objects, each query beside its
  * oracle; this object only merges them.
  *
  * The energy-domain operators (EnergyAnalytics / TimeSeries) are
  * exercised here over the driver's `events` table (user_id ~ HomeID,
  * event_type ~ ApplianceType, value ~ EnergyConsumption, ts ~ Date) —
  * same operator, same plan shape, oracle-checkable data. The
  * training-data-pipeline operators (Dedup / TextAnalysis / Similarity)
  * run over `documents` and `embeddings`.
  *
  * Output discipline (driver hashes values after sorting columns by
  * name): every aggregate/computed column is aliased identically on
  * both sides; doubles are rounded at the final projection only;
  * integer-ish outputs are cast to BIGINT to match DuckDB's types;
  * dates are true DATE on both sides.
  */
object SparkEntry {

  /** Flagship query on sf=0.001 — the reference's richest pipeline
    * (EP3 anomaly features: rollup -> densify -> rolling window -> dow)
    * as one Catalyst DAG. Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    anomalyFeatures(spark, "/root/testdata/sf0.001")

  /** The catalog's domains; no query name is defined in two of them. */
  private[graft] val domains: Seq[QueryDomain] = Seq(
    RelationalQueries, TimeSeriesQueries, TextDedupQueries,
    TextQualityQueries, TokenizePackQueries, RetrievalQueries,
    LakehouseQueries, MultimodalQueries, StatsEvalQueries)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    domains.map(_.queries).reduce(_ ++ _)

  def oracleSql: Map[String, String] =
    domains.map(_.oracleSql).reduce(_ ++ _)
}
