package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Batch ingest: raw energy CSV -> canonical `readings` table.
  *
  * Re-expresses the reference ingest tier
  * (`/root/reference/function-app/blobToCosmos.py:28-84`,
  * `/root/reference/process_etl.py`, `/root/reference/csv_to_az_blob.py`)
  * as one declarative Spark job: `read.csv -> rename/cast/validate ->
  * write`. The reference's per-row `create_item` network loop (~80 rows/s
  * at 400 RU/s) becomes a partitioned bulk write; at 100 TB the same plan
  * is a distributed scan + narrow per-row transforms — no shuffle at all.
  */
object EnergyIngest {

  /** Raw CSV schema — all strings, exactly as the file ships
    * (`home_energy_consumption_data.csv:1`). Explicit schema: header
    * inference is a full extra pass at scale.
    */
  val rawSchema: StructType = StructType(Seq(
    StructField("Home ID", StringType),
    StructField("Appliance Type", StringType),
    StructField("Energy Consumption (kWh)", StringType),
    StructField("Time", StringType),
    StructField("Date", StringType),
    StructField("Outdoor Temperature (?C)", StringType),
    StructField("Season", StringType),
    StructField("Household Size", StringType)
  ))

  /** Canonical `readings` schema (FIXTURES.md §2). `Date` stays a
    * dd-MM-yyyy string at ingest — parsed with `to_date` at analytics
    * time, matching the reference which only parses inside pandas
    * (`ml_forecast_anomaly.py:179`).
    */
  val readingsSchema: StructType = StructType(Seq(
    StructField("HomeID", StringType, nullable = false),
    StructField("ApplianceType", StringType, nullable = false),
    StructField("EnergyConsumption", DoubleType, nullable = false),
    StructField("Season", StringType),
    StructField("Date", StringType),
    StructField("HouseholdSize", IntegerType),
    StructField("id", StringType, nullable = false)
  ))

  /** Header normalization (`blobToCosmos.py:39-42`): strip, lowercase,
    * drop spaces and unit suffixes. Driver-side string fn over column
    * names — not a row expression.
    */
  def normalizeHeader(h: String): String =
    h.trim.toLowerCase
      .replace(" ", "")
      .replace("(kwh)", "")
      .replace("(°c)", "")
      .replace("(?c)", "") // the CSV's actual mojibake suffix

  def readRawCsv(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(rawSchema).csv(path)

  /** Null-on-error double cast (`blobToCosmos.py:62-65`). `try_cast`
    * keeps the semantics regardless of the session ANSI flag.
    */
  def toDoubleOrNull(c: Column): Column = c.try_cast(DoubleType)

  /** Null-on-error int cast (`blobToCosmos.py:67-70`). Python
    * `int("3.5")` raises -> None, so ints must reject decimal strings:
    * cast straight to int (a "3.5" string nulls out, matching).
    */
  def toIntOrNull(c: Column): Column = c.try_cast(IntegerType)

  /** Row-validity predicate (`blobToCosmos.py:73-75`): HomeID and
    * ApplianceType non-empty, kWh parseable. HouseholdSize is NOT
    * validated (the reference omits it).
    */
  val isValid: Column =
    col("HomeID").isNotNull && length(col("HomeID")) > 0 &&
      col("ApplianceType").isNotNull && length(col("ApplianceType")) > 0 &&
      col("EnergyConsumption").isNotNull

  /** Raw -> typed+renamed, before validation. Drops `Time` and
    * `Outdoor Temperature` exactly like `blobToCosmos.py:53-70`.
    * `id` is a deterministic sha2 over the business columns (the
    * reference uses uuid4 at `blobToCosmos.py:58`, which makes
    * re-ingestion duplicate data — SURVEY §2.10 E3; deterministic ids
    * make ingest + MERGE idempotent).
    */
  def transform(raw: DataFrame): DataFrame = {
    // one projection: a withColumnRenamed per column re-analyses the plan each time
    val named = raw.toDF(raw.columns.toSeq.map(normalizeHeader): _*)
    named.select(
      col("homeid").as("HomeID"),
      col("appliancetype").as("ApplianceType"),
      toDoubleOrNull(col("energyconsumption")).as("EnergyConsumption"),
      col("season").as("Season"),
      col("date").as("Date"),
      toIntOrNull(col("householdsize")).as("HouseholdSize")
    ).withColumn(
      "id",
      sha2(concat_ws("|", col("HomeID"), col("ApplianceType"), col("Date"),
        col("Season"), col("EnergyConsumption"), col("HouseholdSize")), 256)
    )
  }

  /** Good/bad split with counts (`transformed_count`/`skipped_count`,
    * `blobToCosmos.py:49-81`). One scan, two filters — the reference's
    * per-row try/except skip becomes a declarative split; a bad row
    * never aborts the job (sharp edge #6 in SURVEY §7.4).
    */
  def validate(typed: DataFrame): (DataFrame, DataFrame) =
    (typed.filter(isValid), typed.filter(!isValid))

  /** Full batch ingest: CSV path -> (readings, rejects). */
  def ingest(spark: org.apache.spark.sql.SparkSession, path: String): (DataFrame, DataFrame) =
    validate(transform(readRawCsv(spark, path)))

  /** Legacy JSON-array ingest (`blob_to_cosmosdb.py:29`): one file
    * holding a JSON array of records with all 8 CSV columns.
    */
  def readJsonArray(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", "true").json(path)
}
