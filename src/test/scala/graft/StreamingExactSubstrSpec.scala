package graft

import graft.core.SuffixArray
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Streaming face of the incremental ExactSubstr rewrite: a
  * foreachBatch ingest appends each micro-batch to the raw corpus and
  * the gram index (idempotent txn append keyed by batch id — the
  * exactly-once SnapshotSink discipline), folds the per-batch deltas,
  * and must land exactly on the batch rewrite of the full corpus.
  */
class StreamingExactSubstrSpec extends SparkSpec {
  import spark.implicits._

  test("foreachBatch incremental rewrite: folded streamed deltas == " +
      "batch rewrite; idempotent index appends survive batch replay") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("sa_stream").toString
    val idxDir = root + "/idx"
    val corpusDir = root + "/corpus"
    val span = "zero one two three four five six"
    val b1 = Seq(5L -> s"opening words $span tail a",
                 6L -> "some unrelated second document")
    val b2 = Seq(7L -> s"later copy $span indeed",
                 8L -> "another clean late doc")

    val input = MemoryStream[(Long, String)]
    var folded = Map.empty[Long, (String, Long, Long)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.write.mode("append").parquet(corpusDir)
        val corpus = spark.read.parquet(corpusDir)
        val delta = SuffixArray.exactSubstrDedupIncremental(spark,
          batch, corpus, idxDir, "doc_id", "text", minLen = 7,
          writer = Some(("sa_stream", id)))
        folded = folded ++ delta
          .as[(Long, String, Long, Long)].collect()
          .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      }
      .start()
    input.addData(b1: _*); q.processAllAvailable()
    assert(folded(5L)._3 == 0L) // span unique after batch 1
    input.addData(b2: _*); q.processAllAvailable()
    q.stop()

    val expect = SuffixArray.exactSubstrDedup(
        (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text", 7)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(folded == expect)
    assert(folded(5L)._3 == 7L && folded(7L)._3 == 7L) // span gone BOTH

    // exactly-once: replaying batch 1's index append (same txn
    // app/version) must be a no-op on the persisted gram rows
    val before = graft.sources.SnapshotTable.read(spark, idxDir).count()
    SuffixArray.writeGramIndex(b1.toDF("doc_id", "text"),
      "doc_id", "text", idxDir, minLen = 7,
      writer = Some(("sa_stream", 0L)))
    val after = graft.sources.SnapshotTable.read(spark, idxDir).count()
    assert(after == before, s"replayed append must not grow the index")
  }
}
