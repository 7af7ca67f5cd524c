package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** E3 streaming face: in-stream exact dedup with a bounded state
  * window (`dropDuplicatesWithinWatermark`) — the streaming analogue
  * of `Dedup.dropExactDups`. The batch path dedups retroactively at
  * MERGE time (sha2 id + SnapshotTable.upsert, StreamingIngestSpec); this
  * covers dedup BEFORE the sink, where at 100 TB the state store only
  * holds keys inside the watermark horizon instead of the full key
  * history.
  */
class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("dropDuplicatesWithinWatermark: in-horizon repeats collapse, state stays bounded") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val deduped = input.toDF().toDF("ts", "id", "value")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("id")
    val q = deduped.writeStream
      .format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append())
      .start()

    // batch 1: id A twice in one batch, id B once
    input.addData(
      (ts("2024-01-01 10:00:00"), "A", 1.0),
      (ts("2024-01-01 10:00:30"), "A", 2.0),
      (ts("2024-01-01 10:01:00"), "B", 3.0))
    q.processAllAvailable()
    // batch 2: A again within the 10-minute horizon -> still a dup
    input.addData((ts("2024-01-01 10:05:00"), "A", 4.0))
    q.processAllAvailable()
    val afterInHorizon = spark.table("dedup_out")
      .select($"id", $"value").as[(String, Double)].collect().toSet
    assert(afterInHorizon == Set(("A", 1.0), ("B", 3.0)),
      s"in-horizon repeats must collapse to first-seen: $afterInHorizon")

    // batch 3: advance the watermark far past A's last occurrence,
    // then replay A — its key has been EVICTED from state, so the
    // replay is accepted as new (bounded state, the documented
    // within-watermark contract)
    input.addData((ts("2024-01-01 11:00:00"), "C", 5.0))
    q.processAllAvailable()
    input.addData((ts("2024-01-01 11:05:00"), "A", 6.0))
    q.processAllAvailable()
    val replayed = spark.table("dedup_out")
      .filter($"id" === "A").as[(Timestamp, String, Double)].collect()
    assert(replayed.map(_._3).toSet == Set(1.0, 6.0),
      "post-eviction replay is new-by-contract (state is bounded by the watermark)")
    q.stop()
  }
}
