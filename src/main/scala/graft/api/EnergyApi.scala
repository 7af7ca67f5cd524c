package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StringType}
import graft.core.{EnergyAnalytics, TimeSeries}
import graft.ml.{IsoForestScorer, ProphetScorer}

/** Query façade mirroring the reference's five HTTP endpoints
  * (SURVEY §7.1): the whole reference stack — Cosmos SQL + function
  * glue + client-side pandas — collapses to one DataFrame program per
  * endpoint. Callers collect/serialize; only final results leave the
  * cluster (the reference ships the full table per request, SURVEY §3
  * EP2).
  */
object EnergyApi {

  /** GET /api/GetAllEnergyData (`data_analytics_api.py:24-38`). */
  def getAllEnergy(readings: DataFrame): DataFrame =
    EnergyAnalytics.getAllEnergy(readings)

  /** GET /api/GetEnergyByHomeID (`data_analytics_api.py:44-76`). */
  def getEnergyByHomeID(readings: DataFrame, homeId: String): DataFrame =
    EnergyAnalytics.getEnergyByHome(readings, homeId)

  /** GET /api/GetSeasonalConsumption (`data_analytics_api.py:82-99`) —
    * projection-only, like the reference (despite the name).
    */
  def getSeasonalConsumption(readings: DataFrame): DataFrame =
    EnergyAnalytics.getSeasonalConsumption(readings)

  /** GET /api/Forecast (`ml_forecast_anomaly.py:96-139`). Parity L-1:
    * the output is independent of `homeId` — the reference builds the
    * per-home daily frame and then discards it, forecasting from the
    * model's embedded global history.
    */
  def forecast(spark: SparkSession, days: Int = 7,
               homeId: Option[String] = None): DataFrame =
    ProphetScorer.forecast(spark, days, homeId)

  /** GET /api/DetectAnomalies (`ml_forecast_anomaly.py:145-234`):
    * optional HomeID/date filters -> daily feature pipeline -> scorer.
    * One Catalyst DAG over one scan; over a snapshot read Spark plans as
    * one split it has no exchange, so a request is one job.
    */
  def detectAnomalies(readings: DataFrame, homeId: Option[String] = None,
                      start: Option[String] = None,
                      end: Option[String] = None): DataFrame = {
    val d = to_date(col("Date"), "dd-MM-yyyy")
    val iso = d.cast("string")
    val filtered = EnergyAnalytics.dynamicFilter(readings, Seq(
      homeId.map(h => col("HomeID") === lit(h)),
      start.map(s => iso >= isoDate(s)),
      end.map(e => iso <= isoDate(e))))
    val feats = TimeSeries.anomalyFeatures(filtered, "HomeID", d,
      "EnergyConsumption", "ApplianceType")
    IsoForestScorer.scoreFeatures(feats)
      .select(col("HomeID"), col("Date"), col("total_kwh"),
        col("unique_appliances"), col("rolling_7_mean"), col("dow"),
        col("score"), col("anomaly"))
  }

  /** A request's date bound as a string literal in the form
    * `cast(date as string)` gives, parsed by Spark's own string-to-date
    * cast (what `to_date(lit(s))` folds to): `2023-2-1` is accepted, and
    * an unparseable or empty bound is NULL, which keeps no rows. Bounds are compared as strings, which for
    * four-digit years sort as the dates do, because Spark writes a DATE
    * literal into the generated Java source but passes a string literal
    * to the compiled class by reference: as dates, every new range
    * compiled ~4 classes; as strings, all ranges share them.
    */
  private def isoDate(s: String): Column =
    lit(Option(Cast(Cast(Literal(s), DateType), StringType).eval())
      .map(_.toString).orNull)
}
