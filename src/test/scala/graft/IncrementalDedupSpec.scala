package graft

import graft.core.Dedup
import org.apache.spark.sql.functions._

class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_bidx").toString + "/idx"

  test("incremental flags match a full corpus+batch LSH run") {
    val docs = Tables.documents(spark, Sf0001)
    val corpus = docs.filter($"doc_id" % 3 =!= 1)
    val batch = docs.filter($"doc_id" % 3 === 1)
    val dir = tmp()
    Dedup.writeBandIndex(corpus, "doc_id", "text", dir)
    val inc = Dedup.dedupAgainstIndex(spark, batch, dir, "doc_id", "text",
        minEstJaccard = 0.5)
      .filter($"is_dup").as[(Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r._2).toMap
    // reference: one monolithic run over corpus+batch, keep only
    // (new, corpus) pairs, pick each new doc's best corpus match
    val newIds = batch.select("doc_id").as[Long].collect().toSet
    val full = Dedup.lshCandidates(docs, "doc_id", "text", minEstJaccard = 0.5)
      .as[(Long, Long, Double)].collect()
      .flatMap { case (a, b, j) =>
        Seq(a -> (b, j), b -> (a, j)) // both orientations
      }
      .filter { case (n, (c, _)) => newIds.contains(n) && !newIds.contains(c) }
      .groupBy(_._1)
      .map { case (n, ms) =>
        n -> ms.map(_._2).minBy { case (c, j) => (-j, c) }._1
      }
    assert(inc == full, "incremental result must equal the monolithic run")
    assert(inc.nonEmpty, "test corpus should contain cross-slice near-dups")
  }

  test("index grows by appended batches; replayed txn append is a no-op") {
    val docs = Tables.documents(spark, Sf0001)
    val dir = tmp()
    Dedup.writeBandIndex(docs.filter($"doc_id" < 100), "doc_id", "text", dir)
    val n1 = graft.sources.SnapshotTable.read(spark, dir).count()
    // second increment, idempotent: replaying the same (app, version)
    // must not double the rows
    val b2 = docs.filter($"doc_id" >= 100 && $"doc_id" < 200)
    Dedup.writeBandIndex(b2, "doc_id", "text", dir,
      writer = Some(("ingest", 1L)))
    val n2 = graft.sources.SnapshotTable.read(spark, dir).count()
    assert(n2 > n1)
    Dedup.writeBandIndex(b2, "doc_id", "text", dir,
      writer = Some(("ingest", 1L)))
    assert(graft.sources.SnapshotTable.read(spark, dir).count() == n2)
    // a batch-2 near-dup is now visible to batch 3
    val probe = docs.filter($"doc_id" >= 100 && $"doc_id" < 110)
      .withColumn("doc_id", $"doc_id" + 100000L)
    val flagged = Dedup.dedupAgainstIndex(spark, probe, dir, "doc_id", "text",
        minEstJaccard = 0.9)
      .filter($"is_dup")
      .as[(Long, Long, Double, Boolean)].collect()
    assert(flagged.length == 10, "identical re-ingested docs must all flag")
    flagged.foreach { case (id, dupOf, j, _) =>
      assert(dupOf == id - 100000L && j == 1.0)
    }
  }

  test("streaming ingest loop: band index as cross-batch near-dup state") {
    // the streaming shape the index exists for: each micro-batch is
    // gated against everything ingested so far, and its CLEAN docs
    // join the index (idempotent, keyed by batch id) — near-dup state
    // lives in the TABLE, not in an executor state store, so it
    // survives restarts and is shared by batch jobs
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp()
    Dedup.writeBandIndex(
      Seq((1L, "the quick brown fox jumps over the lazy dog today"))
        .toDF("doc_id", "text"), "doc_id", "text", dir)
    val flagged = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val audit = Dedup.dedupAgainstIndex(spark, batch, dir,
          "doc_id", "text", minEstJaccard = 0.9).cache()
        flagged.synchronized {
          flagged ++= audit.select("doc_id", "is_dup")
            .as[(Long, Boolean)].collect()
        }
        val clean = batch.join(
          audit.filter(!col("is_dup")).select("doc_id"), "doc_id")
        Dedup.writeBandIndex(clean, "doc_id", "text", dir,
          writer = Some(("stream-dedup", id)))
        audit.unpersist(); ()
      }
      .start()
    // batch 1: a dup of the seed + a genuinely new doc
    input.addData(
      (10L, "the quick brown fox jumps over the lazy dog today"),
      (11L, "completely novel sentence about spark catalyst planning"))
    q.processAllAvailable()
    // batch 2: a dup of batch 1's CLEAN doc — visible only if the
    // index grew between batches
    input.addData((20L, "completely novel sentence about spark catalyst planning"))
    q.processAllAvailable()
    q.stop()
    val byId = flagged.toMap
    assert(byId(10L), "seed dup must flag")
    assert(!byId(11L), "novel doc must pass")
    assert(byId(20L), "dup of a previous batch's clean doc must flag")
    // the dup never entered the index: only seed + doc 11 band rows
    val idx = graft.sources.SnapshotTable.read(spark, dir)
    assert(idx.select("doc").distinct().count() == 2)
  }

  test("clean new docs pass with null match columns") {
    val dir = tmp()
    Dedup.writeBandIndex(Seq((1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text"), "doc_id", "text", dir)
    val out = Dedup.dedupAgainstIndex(spark,
        Seq((2L, "one two three four five six seven")).toDF("doc_id", "text"),
        dir, "doc_id", "text", minEstJaccard = 0.25)
      .collect()
    assert(out.length == 1 && !out(0).getAs[Boolean]("is_dup"))
    assert(out(0).isNullAt(out(0).fieldIndex("dup_of")))
  }
}
