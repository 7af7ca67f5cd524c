package graft

import graft.sources.{Scd2, SnapshotTable}
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Date

/** SCD2 semantics: versions open only on real attribute change,
  * history closes with the batch's effective date, point-in-time
  * reads see period-correct attributes, replays no-op.
  */
class Scd2Spec extends SparkSpec {
  import spark.implicits._

  private def d(s: String) = Date.valueOf(s)

  test("version lifecycle: change versions, no-change doesn't, revert does") {
    val t = Files.createTempDirectory("graft_scd2").toString + "/dim"
    def batch(rows: (Long, String)*)(eff: String) =
      rows.toSeq.toDF("k", "seg").withColumn("eff", lit(d(eff)))
    // b1: keys 1, 2. b2: 1 changes, 2 same, 3 arrives late.
    // b3: 1 reverts to its original value (a REAL change), 2 same.
    // each batch releases its checkpoints (create, then close + insert)
    leavesNothingPersisted(Scd2.upsertBatch(spark, t,
      batch(1L -> "A", 2L -> "B")("2024-01-01"), "k", Seq("seg"), "eff", "w", 1L))
    leavesNothingPersisted(Scd2.upsertBatch(spark, t,
      batch(1L -> "A2", 2L -> "B", 3L -> "C")("2024-02-01"),
      "k", Seq("seg"), "eff", "w", 2L))
    leavesNothingPersisted(Scd2.upsertBatch(spark, t,
      batch(1L -> "A", 2L -> "B")("2024-03-01"), "k", Seq("seg"), "eff", "w", 3L))
    val rows = SnapshotTable.read(spark, t)
      .select($"k", $"seg", $"valid_from", $"valid_to", $"is_current")
      .as[(Long, String, Date, Option[Date], Boolean)].collect().toSet
    assert(rows == Set(
      (1L, "A", d("2024-01-01"), Some(d("2024-02-01")), false),
      (1L, "A2", d("2024-02-01"), Some(d("2024-03-01")), false),
      (1L, "A", d("2024-03-01"), None, true),
      (2L, "B", d("2024-01-01"), None, true),
      (3L, "C", d("2024-02-01"), None, true)), s"$rows")
    // point-in-time: mid-February sees A2/B/C; mid-January sees A/B
    val jan = Scd2.asOf(spark, t, lit(d("2024-01-15")))
      .select($"k", $"seg").as[(Long, String)].collect().toSet
    assert(jan == Set(1L -> "A", 2L -> "B"))
    val feb = Scd2.asOf(spark, t, lit(d("2024-02-15")))
      .select($"k", $"seg").as[(Long, String)].collect().toSet
    assert(feb == Set(1L -> "A2", 2L -> "B", 3L -> "C"))
    // exactly one current row per key, always
    val cur = SnapshotTable.read(spark, t).filter($"is_current")
      .groupBy("k").count().as[(Long, Long)].collect()
    assert(cur.forall(_._2 == 1L))
  }

  test("streaming SCD2: foreachBatch micro-batches build the same " +
      "history as batch application; restart-style replay no-ops") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val t = Files.createTempDirectory("graft_scd2s").toString + "/dim"
    // dimension snapshots arrive as a stream of (key, seg, eff)
    // micro-batches; batch id IS the idempotence version
    val input = MemoryStream[(Long, String, Date)]
    val q = input.toDF().toDF("k", "seg", "eff")
      .writeStream
      .foreachBatch((df: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!df.isEmpty) {
          Scd2.upsertBatch(spark, t, df, "k", Seq("seg"), "eff", "sw", id)
          ()
        })
      .start()
    try {
      input.addData((1L, "A", d("2024-01-01")), (2L, "B", d("2024-01-01")))
      q.processAllAvailable()
      input.addData((1L, "A2", d("2024-02-01")), (2L, "B", d("2024-02-01")))
      q.processAllAvailable()
    } finally q.stop()
    val got = SnapshotTable.read(spark, t)
      .select($"k", $"seg", $"valid_from", $"valid_to", $"is_current")
      .as[(Long, String, Date, Option[Date], Boolean)].collect().toSet
    assert(got == Set(
      (1L, "A", d("2024-01-01"), Some(d("2024-02-01")), false),
      (1L, "A2", d("2024-02-01"), None, true),
      (2L, "B", d("2024-01-01"), None, true)), s"$got")
    // crash-replay of the LAST micro-batch (same writer, same id):
    // the table must not change
    Scd2.upsertBatch(spark, t,
      Seq((1L, "A2", d("2024-02-01")), (2L, "B", d("2024-02-01")))
        .toDF("k", "seg", "eff"), "k", Seq("seg"), "eff", "sw", 1L)
    val again = SnapshotTable.read(spark, t)
      .select($"k", $"seg", $"valid_from", $"valid_to", $"is_current")
      .as[(Long, String, Date, Option[Date], Boolean)].collect().toSet
    assert(again == got, "replayed micro-batch must be a no-op")
  }

  test("replayed batch is a no-op (both commits watermark-guarded)") {
    val t = Files.createTempDirectory("graft_scd2b").toString + "/dim"
    def batch(rows: (Long, String)*)(eff: String) =
      rows.toSeq.toDF("k", "seg").withColumn("eff", lit(d(eff)))
    Scd2.upsertBatch(spark, t, batch(1L -> "A")("2024-01-01"),
      "k", Seq("seg"), "eff", "w", 1L)
    Scd2.upsertBatch(spark, t, batch(1L -> "A2")("2024-02-01"),
      "k", Seq("seg"), "eff", "w", 2L)
    val before = SnapshotTable.read(spark, t)
      .select($"k", $"seg", $"valid_from", $"valid_to", $"is_current")
      .as[(Long, String, Date, Option[Date], Boolean)].collect().toSet
    // exact redelivery: same writer id + batch version
    Scd2.upsertBatch(spark, t, batch(1L -> "A2")("2024-02-01"),
      "k", Seq("seg"), "eff", "w", 2L)
    val after = SnapshotTable.read(spark, t)
      .select($"k", $"seg", $"valid_from", $"valid_to", $"is_current")
      .as[(Long, String, Date, Option[Date], Boolean)].collect().toSet
    assert(after == before, "replay must change nothing")
  }
}
