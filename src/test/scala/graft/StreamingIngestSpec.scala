package graft

import java.nio.file.Files
import graft.sources.SnapshotTable
import graft.streaming.IngestStream

/** E1/E3: streaming file-source ingest is exactly-once and idempotent
  * (SURVEY §2.10) — strictly stronger than the reference's blob
  * trigger, which double-ingests re-uploaded blobs.
  */
class StreamingIngestSpec extends SparkSpec {

  private val header = "Home ID,Appliance Type,Energy Consumption (kWh),Time,Date,Outdoor Temperature (?C),Season,Household Size"

  test("streamed chunks == batch ingest of the concatenation; replay is a no-op") {
    val base = Files.createTempDirectory("graft_stream").toString
    val landing = s"$base/landing"; val table = s"$base/table"
    val ckpt = s"$base/ckpt"; val rejects = s"$base/rejects"
    Files.createDirectories(java.nio.file.Paths.get(landing))

    def writeBlob(name: String, rows: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(s"$landing/$name"),
        (header +: rows).mkString("\n").getBytes)

    writeBlob("blob1.csv", Seq(
      "430,Oven,0.83,19:48,02-04-2023,7.7,Spring,1",
      "363,Dishwasher,1.09,3:28,11-03-2023,23,Winter,5",
      ",Broken,1.0,1:00,01-01-2023,5,Winter,2"))          // 1 bad row
    writeBlob("blob2.csv", Seq(
      "154,Heater,3.6,5:53,12-02-2023,0.6,Winter,4",
      "430,Oven,0.83,19:48,02-04-2023,7.7,Spring,1"))     // dup of blob1 row

    val metrics = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val q = IngestStream.start(spark, landing, table, ckpt, Some(rejects),
      onBatchMetrics = Some((id, g, b) => metrics.synchronized { metrics += ((id, g, b)) }))
    q.awaitTermination()

    val got = SnapshotTable.read(spark, table)
    // 4 good rows minus 1 cross-blob duplicate (deterministic id) = 3
    assert(got.count() == 3L)
    assert(spark.read.parquet(rejects).count() == 1L)
    // operational counters (A9): totals across batches match the sinks
    assert(metrics.map(_._2).sum == 4L) // transformed (pre-merge-dedup)
    assert(metrics.map(_._3).sum == 1L) // skipped

    // replay the same landing dir from a fresh checkpoint: counts stable
    val q2 = IngestStream.start(spark, landing, table, s"$base/ckpt2", None)
    q2.awaitTermination()
    assert(SnapshotTable.read(spark, table).count() == 3L)

    // a late blob, resumed from the ORIGINAL checkpoint: only the new
    // file is processed, and the metrics batch holds nothing persisted
    writeBlob("blob3.csv", Seq("99,TV,1.5,2:00,05-05-2023,12,Spring,3"))
    val seen = metrics.size
    leavesNothingPersisted(IngestStream.start(spark, landing, table, ckpt,
      Some(rejects), onBatchMetrics = Some((id, g, b) =>
        metrics.synchronized { metrics += ((id, g, b)) })).awaitTermination())
    assert(SnapshotTable.read(spark, table).count() == 4L)
    assert(metrics.drop(seen).map(m => (m._2, m._3)) == Seq((1L, 0L)))
  }
}
