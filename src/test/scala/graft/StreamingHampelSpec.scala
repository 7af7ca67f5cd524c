package graft

import graft.core.TimeSeries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming face of the incremental Hampel despike: a foreachBatch
  * ingest appends each micro-batch's (key, day) partial sums to the
  * persisted daily table (idempotent txn append keyed by batch id),
  * folds the per-key deltas, and must land exactly on the batch
  * despike of all events — INCLUDING late data re-judging earlier
  * days (the stale flags are overwritten by the re-emitted rows).
  */
class StreamingHampelSpec extends SparkSpec {
  import spark.implicits._

  private def asMap(df: DataFrame) =
    df.select(col("event_type"), col("d").cast("string"), col("v"),
        col("med"), col("mad"), col("is_spike"))
      .as[(String, String, Long, Option[Long], Option[Long], Boolean)]
      .collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap

  test("foreachBatch incremental despike: folded deltas == batch; " +
      "late partials re-judge affected days; replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("hampel_stream").toString + "/daily"
    // key A: a flat series with one huge spike day; key B flat.
    // batch 1 delivers days 1-10 but UNDERDELIVERS day 6 for A (the
    // spike arrives late in batch 2 — the flag must flip on fold)
    def ev(k: String, day: Int, cents: Long) =
      (k, java.sql.Date.valueOf(f"2024-03-$day%02d"), cents)
    val batch1 = (1 to 10).map(d => ev("A", d, 100L)) ++
      (1 to 10).map(d => ev("B", d, 200L))
    val batch2 = Seq(ev("A", 6, 99900L)) // the late spike partial
    def run(events: Seq[(String, java.sql.Date, Long)]) =
      TimeSeries.hampelDespike(
        events.toDF("event_type", "day", "cents"), "event_type",
        col("day"), col("cents"), window = 5, nMad = 3)

    val input = MemoryStream[(String, java.sql.Date, Long)]
    var folded = Map.empty[(String, String),
      (Long, Option[Long], Option[Long], Boolean)]
    val q = input.toDF().toDF("event_type", "day", "cents").writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        folded = folded ++ asMap(TimeSeries.hampelDespikeIncremental(
          spark, batch, dir, "event_type", col("day"), col("cents"),
          window = 5, nMad = 3,
          writer = Some(("hampel_stream", id))))
      }
      .start()
    input.addData(batch1: _*); q.processAllAvailable()
    // before the late partial: day 6 is ordinary, nothing flagged
    assert(folded(("A", "2024-03-06"))._4 == false)
    assert(folded == asMap(run(batch1)))
    input.addData(batch2: _*); q.processAllAvailable()
    q.stop()
    // after the fold: day totals include the late partial, day 6
    // flips to a spike, and key B's rows were NOT re-emitted (delta
    // is key-level) but their folded values are still correct
    val expect = asMap(run(batch1 ++ batch2))
    assert(folded == expect)
    assert(folded(("A", "2024-03-06"))._4 == true)

    // exactly-once: replaying batch 2's append (same txn version)
    // must not grow the persisted partials
    val before = graft.sources.SnapshotTable.read(spark, dir).count()
    TimeSeries.hampelDespikeIncremental(spark,
      batch2.toDF("event_type", "day", "cents"), dir, "event_type",
      col("day"), col("cents"), window = 5, nMad = 3,
      writer = Some(("hampel_stream", 1L)))
    assert(graft.sources.SnapshotTable.read(spark, dir).count() == before)
  }
}
