package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.core.{EnergyIngest, Materialize}
import graft.sources.SnapshotTable

/** Event-driven ingest (SURVEY §2.10 E1): the reference's blob-trigger
  * (`/root/reference/function-app/blobToCosmos.py:28-29` — one function
  * invocation per new blob, at-least-once, whole file as a batch)
  * re-expressed as a Structured Streaming file source + `foreachBatch`.
  *
  * Checkpointing + idempotent keyed upsert gives exactly-once into the
  * [[graft.sources.SnapshotTable]] the API reads — strictly stronger than the reference, which
  * double-ingests re-uploaded blobs (uuid ids) and silently drops a
  * whole blob on mid-file failure (`blobToCosmos.py:83-84`).
  *
  * `maxFilesPerTrigger` bounds micro-batch size so a backlog of
  * landing files can't blow up one batch at scale.
  */
object IngestStream {

  /** @param onBatchMetrics optional per-batch operational counters
    *   (batchId, transformed_count, skipped_count) — the reference's
    *   log counters (`blobToCosmos.py:80-81`) as a callback. Costs one
    *   extra cached pass over the (bounded) micro-batch.
    */
  def start(spark: SparkSession, landingDir: String, tableDir: String,
            checkpointDir: String, rejectDir: Option[String] = None,
            maxFilesPerTrigger: Int = 16,
            onBatchMetrics: Option[(Long, Long, Long) => Unit] = None): StreamingQuery = {
    val raw = spark.readStream
      .option("header", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .schema(EnergyIngest.rawSchema)
      .csv(landingDir)

    raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Materialize.scope {
          val typed = EnergyIngest.transform(batch)
          if (onBatchMetrics.isDefined) Materialize.persist(typed)
          val (good, bad) = EnergyIngest.validate(typed)
          // deterministic ids make replayed batches a no-op (E3)
          SnapshotTable.upsert(batch.sparkSession, good, tableDir, "id")
          rejectDir.foreach(d => bad.write.mode("append").parquet(d))
          onBatchMetrics.foreach(cb => cb(batchId, good.count(), bad.count()))
        }
      }
      .start()
  }
}
