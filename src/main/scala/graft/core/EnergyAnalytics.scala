package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's analytics surface — every filter/aggregate
  * the API tier (`/root/reference/function-app/data_analytics_api.py`)
  * and the frontend tier
  * (`/root/reference/streamlit-frontend/pages/`) compute, collapsed
  * into single DataFrame programs; the three projection endpoints are
  * defined once, in [[graft.api.EnergyApi]].
  *
  * The reference ships the ENTIRE table over HTTP and aggregates
  * client-side in pandas (SURVEY §3 EP2); here the filter/projection is
  * pushed into the scan by Catalyst and only the aggregated result
  * leaves the cluster — the shape that survives a 100 TB scan.
  *
  * All functions are pure `DataFrame => DataFrame` over the canonical
  * `readings` schema (FIXTURES.md §2) and are generic in the column
  * names, so the same operators run over any (key, category, value)
  * table — the oracle gate exercises them on the driver's `events`
  * table.
  */
object EnergyAnalytics {

  /** P7 — dynamic predicate builder (`ml_forecast_anomaly.py:158-167`):
    * optional filters AND-ed together; None = no filter.
    */
  def dynamicFilter(df: DataFrame, predicates: Seq[Option[Column]]): DataFrame =
    predicates.flatten.reduceOption(_ && _).fold(df)(df.filter)

  /** A1 — per-category total (`Appliances_vs_Consumption_Overview.py:18`). */
  def totalsByCategory(df: DataFrame, category: String, value: String): DataFrame =
    df.groupBy(category).agg(sum(value).as("total"))

  /** O1 — top-K categories by total (`...Overview.py:38`, nlargest(5)).
    * Catalyst plans TakeOrderedAndProject: only K rows per partition
    * survive the shuffle — no global sort at scale. Tie-break on the
    * category key for determinism.
    */
  def topKCategories(df: DataFrame, category: String, value: String, k: Int): DataFrame =
    totalsByCategory(df, category, value)
      .orderBy(desc("total"), asc(category))
      .limit(k)

  /** A6/A7 — global KPI row (`...Overview.py:31-32`,
    * `Household_Energy_Analytics.py:20-22`): one aggregate pass, one
    * output row.
    */
  def kpis(df: DataFrame, value: String, auxAvg: String): DataFrame =
    df.agg(
      sum(col(value)).as("total_consumption"),
      avg(col(value)).as("avg_consumption"),
      count(lit(1)).as("n_records"),
      avg(col(auxAvg)).as("avg_household_size")
    )

  /** J1 — per-home category totals vs global category averages
    * (`Household_Energy_Analytics.py:57-58`), the reference's inner
    * join of the two, as ONE grouped aggregate over one scan: a
    * conditional sum and row count for the home beside the global
    * average, keeping the (non-null) categories the home has rows in —
    * exactly the categories the inner join kept.
    */
  def homeVsGlobalAvg(readings: DataFrame, homeId: String): DataFrame = {
    val isHome = col("HomeID") === lit(homeId)
    readings.groupBy("ApplianceType")
      .agg(sum(when(isHome, col("EnergyConsumption"))).as("EnergyConsumption_Home"),
        avg("EnergyConsumption").as("EnergyConsumption_Avg"),
        count(when(isHome, lit(1))).as("home_rows"))
      .filter(col("ApplianceType").isNotNull && col("home_rows") > 0)
      .drop("home_rows")
  }

  /** A2/A3 — group-sum by an arbitrary key (Season / Date daily rollup:
    * `Household_Energy_Analytics.py:38,47`, `ml_forecast_anomaly.py:126`).
    */
  def sumBy(df: DataFrame, key: Column, keyName: String, value: String): DataFrame =
    df.groupBy(key.as(keyName)).agg(sum(value).as("total"))
}
