package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained daily rollup — a materialized aggregate
  * VIEW kept in a [[SnapshotTable]] and advanced one batch at a time:
  * each batch contributes its partial (day, sum, count) aggregates,
  * which MERGE additively into the stored rows (update = stored +
  * incoming, insert for unseen days). The lakehouse answer to "don't
  * re-scan 100 TB of history to refresh yesterday's dashboard": a
  * batch's cost is one map-side-combined aggregation over the batch
  * plus a merge that rewrites only the files whose day-range the
  * batch touches (manifest stat pruning on the date key).
  *
  * Correctness discipline: the measure is a per-row fixed-point
  * BIGINT (`floor(value·1e6)`), so partial sums are ORDER-FREE and
  * additive — merging batches in any grouping must land on exactly
  * the one-shot aggregate, and the q117 gate proves it against a
  * relational oracle over the raw events (the q100/q102
  * "commit structure cannot leak into answers" rule applied to
  * aggregation). A double measure would make batch boundaries visible
  * in the last ulp.
  *
  * Exactly-once ingest belongs to the writer: a `foreachBatch`
  * wrapper should gate on the table's txn watermark
  * ([[SnapshotTable.txnVersions]], the PackStream discipline) before
  * calling [[upsertDaily]] — the additive merge itself is
  * deliberately NOT idempotent under replay.
  */
object IncrementalRollup {

  /** Merge one batch's partial daily aggregates into `table`.
    * @return the committed manifest version
    */
  def upsertDaily(spark: SparkSession, batch: DataFrame, table: String,
                  tsCol: String = "ts", valueCol: String = "value"): Int =
    mergePartials(spark, batch, table, tsCol, valueCol, txn = Map.empty)

  /** The additive merge of `batch`'s partial (d, total_micro, n)
    * aggregates; `txn` is [[SnapshotTable.merge]]'s idempotence
    * watermark.
    */
  private def mergePartials(spark: SparkSession, batch: DataFrame, table: String,
                            tsCol: String, valueCol: String,
                            txn: Map[String, Long]): Int = {
    val partial = batch
      .groupBy(to_date(col(tsCol)).as("d"))
      .agg(sum(floor(col(valueCol) * lit(1000000.0)).cast("long"))
          .as("total_micro"),
        count(lit(1)).as("n"))
    SnapshotTable.merge(spark, table, partial, "d",
      whenMatchedUpdate = Map(
        "total_micro" -> (col("total_micro") + col("_src.total_micro")),
        "n" -> (col("n") + col("_src.n"))),
      whenNotMatchedInsert = true,
      txn = txn)
  }

  /** The maintained view: (d, total_micro, n). */
  def readDaily(spark: SparkSession, table: String): DataFrame =
    SnapshotTable.read(spark, table)
      .select(col("d"), col("total_micro"), col("n"))

  /** Exactly-once form for replayable writers (`foreachBatch`): the
    * additive merge is guarded by the table's (writerId, batchId)
    * txn watermark — Structured Streaming re-delivers a batch id
    * after a crash, and a re-applied ADDITIVE merge would silently
    * double that batch's days, so the replay must be a structural
    * no-op (the [[SnapshotTable.appendIdempotent]] contract carried
    * onto merge). Fresh checkpoints must rotate `writerId`, exactly
    * as [[graft.streaming.PackStream]] documents.
    *
    * @return true when the batch applied, false when skipped as a
    *         replay
    */
  def upsertDailyIdempotent(spark: SparkSession, batch: DataFrame,
                            table: String, writerId: String, batchId: Long,
                            tsCol: String = "ts",
                            valueCol: String = "value"): Boolean = {
    // merge re-checks the watermark inside its retry loop; this check
    // only decides the return value
    val before = SnapshotTable.currentVersion(table)
      .map(v => SnapshotTable.txnVersions(table, v).getOrElse(writerId, -1L))
      .getOrElse(-1L)
    if (batchId <= before) return false
    mergePartials(spark, batch, table, tsCol, valueCol, Map(writerId -> batchId))
    true
  }
}
