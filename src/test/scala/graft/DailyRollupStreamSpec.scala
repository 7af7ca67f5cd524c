package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable
import graft.streaming.DailyRollupStream

/** Streaming rollup -> merged daily table -> batch scoring: the
  * continuous form of the reference's EP3 pipeline.
  */
class DailyRollupStreamSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  test("windows close into the merged table; batch scorer reads it") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft_rollup").toString
    val input = MemoryStream[(Long, Timestamp, String, Double)]
    val events = input.toDF().toDF("user_id", "ts", "event_type", "value")

    input.addData(
      (1L, t("2024-01-01 01:00:00"), "a", 1.0),
      (1L, t("2024-01-01 05:00:00"), "b", 2.0),
      (1L, t("2024-01-02 01:00:00"), "a", 4.0),
      (2L, t("2024-01-01 09:00:00"), "a", 7.0),
      // far-future event advances the watermark so earlier days close
      (9L, t("2024-01-10 00:00:00"), "a", 0.5))
    DailyRollupStream.start(spark, events, s"$base/daily", s"$base/ckpt")
      .awaitTermination()

    val table = SnapshotTable.read(spark, s"$base/daily")
    val rows = table.select($"user_id", $"Date".cast("string"), $"total_kwh")
      .as[(Long, String, Double)].collect().toSet
    assert(rows.contains((1L, "2024-01-01", 3.0)))
    assert(rows.contains((1L, "2024-01-02", 4.0)))
    assert(rows.contains((2L, "2024-01-01", 7.0)))

    // replay from a fresh checkpoint: MERGE keeps the table identical
    val before = table.count()
    DailyRollupStream.start(spark, events, s"$base/daily", s"$base/ckpt2")
      .awaitTermination()
    assert(SnapshotTable.read(spark, s"$base/daily").count() == before)

    // batch feature + scorer path over the accumulated table
    val feats = graft.core.TimeSeries.rollingMean7(
      SnapshotTable.read(spark, s"$base/daily"), "user_id", "Date", "total_kwh")
    val scored = graft.ml.IsoForestScorer.scoreFeatures(
      graft.core.TimeSeries.withDow(feats, "Date"))
    assert(scored.filter($"score".isNull).count() == 0)
    assert(scored.columns.contains("anomaly"))
  }
}
