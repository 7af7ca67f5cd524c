package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sources.SnapshotTable

/** Continuous analytics path: event stream -> watermarked daily
  * windows -> idempotent MERGE into a daily aggregate
  * [[graft.sources.SnapshotTable]] that the batch feature/scoring
  * pipeline (TimeSeries.anomalyFeatures + IsoForestScorer) reads.
  *
  * This is the streaming re-architecture of the reference's EP3: the
  * per-request Cosmos fetch + pandas rebuild becomes a standing
  * incremental rollup, and scoring reads an always-current table. The
  * window aggregation state is bounded by the watermark; the MERGE key
  * (user, day) makes replays idempotent.
  */
object DailyRollupStream {

  def start(spark: SparkSession, events: DataFrame, tableDir: String,
            checkpointDir: String, watermark: String = "1 day"): StreamingQuery = {
    // group on the window STRUCT itself — extracting .start inside the
    // groupBy hides the event-time column and the analyzer rejects
    // append mode as "aggregation without watermark"
    val daily = events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), window(col("ts"), "1 day"))
      .agg(
        sum("value").as("total_kwh"),
        approx_count_distinct(col("event_type")).as("unique_appliances"))
      .select(col("user_id"),
        col("window.start").cast("date").as("Date"),
        col("total_kwh"), col("unique_appliances"))

    daily.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val keyed = batch.withColumn("k",
          concat_ws("|", col("user_id"), col("Date")))
        SnapshotTable.upsert(batch.sparkSession, keyed, tableDir, "k")
        ()
      }
      .start()
  }
}
