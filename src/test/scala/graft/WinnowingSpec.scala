package graft

import graft.core.Dedup
import graft.expressions.RollingHash

/** Winnowing fingerprints vs the paper's literal definition: per
  * window of w gram hashes keep the rightmost minimum. The Spark side
  * computes selection from local run lengths — these tests pin the
  * equivalence, the tie rule, and the detection guarantee.
  */
class WinnowingSpec extends SparkSpec {
  import spark.implicits._

  private def mix32L(h0: Long): Long = {
    val M = 4294967296L
    def xm(h: Long) = ((h ^ (h >>> 16)) * 73244475L) % M
    val h2 = xm(xm(h0))
    h2 ^ (h2 >>> 16)
  }
  private def fp(gram: String): Long =
    java.lang.Math.floorMod(mix32L(RollingHash.hash(gram)), 1000000000L)

  /** The paper's definition, literally: rightmost min per window. */
  private def brute(text: String, k: Int, w: Int): Set[(Long, Long)] = {
    val toks = text.trim.split("\\s+").toVector.filter(_.nonEmpty)
    if (toks.size < k + w - 1) return Set.empty
    val hs = toks.sliding(k).map(g => fp(g.mkString(" "))).toVector
    (0 to hs.size - w).map { i =>
      val mn = hs.slice(i, i + w).min
      val p = (i until i + w).filter(j => hs(j) == mn).max
      (p.toLong, mn)
    }.toSet
  }

  private def run(docs: Seq[(Long, String)], k: Int, w: Int,
                  parts: Int = 1): Map[Long, Set[(Long, Long)]] =
    Dedup.winnowFingerprints(docs.toDF("doc_id", "text")
        .repartition(parts), "doc_id", "text", k, w)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet)
      .toMap

  test("selection equals the literal rightmost-min-per-window rule, " +
      "including tie positions from repeated grams") {
    val docs = Seq(
      1L -> "a b c d e f g h i j k l",
      2L -> "x y x y x y x y x y",              // heavy gram repeats: ties
      3L -> "one two three one two three one two three",
      4L -> "short doc",                         // below one window: empty
      5L -> "p q r s t u p q r s t u p q")
    val got = run(docs, k = 3, w = 4)
    docs.foreach { case (id, t) =>
      val exp = brute(t, 3, 4)
      assert(got.getOrElse(id, Set.empty) == exp, s"doc $id")
    }
  }

  test("guarantee: a shared run of >= w+k-1 tokens always yields a " +
      "shared fingerprint pair") {
    val shared = "alpha beta gamma delta epsilon zeta"   // 6 = w+k-1
    val docs = Seq(
      1L -> s"unique head words then $shared and tail",
      2L -> s"$shared entirely different remainder here now",
      3L -> "no overlap with anything else at all truly")
    val pairs = Dedup.winnowMatchPairs(docs.toDF("doc_id", "text"),
        "doc_id", "text", k = 3, w = 4)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 >= 1L),
      s"guarantee violated: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("partition invariance; maxDf cap drops boilerplate " +
      "fingerprints only") {
    val docs = (1L to 12L).map { id =>
      id -> (s"common prefix tokens shared by all docs here " +
        s"then unique tail $id ${id * 7} ${id * 13}")
    }
    val a = run(docs, 3, 4)
    val b = run(docs, 3, 4, parts = 7)
    assert(a == b)
    val uncapped = Dedup.winnowMatchPairs(docs.toDF("doc_id", "text"),
      "doc_id", "text", 3, 4).collect().length
    val capped = Dedup.winnowMatchPairs(docs.toDF("doc_id", "text"),
      "doc_id", "text", 3, 4, maxDf = 4).collect().length
    assert(capped < uncapped) // the all-docs boilerplate fp is capped out
  }

  private def asPairs(df: org.apache.spark.sql.DataFrame) =
    df.as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap

  test("incremental: folded deltas over a persisted index == batch " +
      "winnowMatchPairs; untouched old-old pairs stay out of deltas; " +
      "idempotent append replay is a no-op") {
    val shared = "alpha beta gamma delta epsilon zeta"
    val other = "one two three four five six seven"
    val batch1 = Seq(
      1L -> s"head words then $shared tail one",
      2L -> s"$shared different remainder here now",
      3L -> s"$other and some extra padding text")
    val batch2 = Seq(
      10L -> s"late copy with $shared inside too",
      11L -> s"$other echoed by a late arrival",
      12L -> "entirely fresh unrelated document body")
    val dir = java.nio.file.Files
      .createTempDirectory("wn_inc").toString + "/idx"
    val d1 = asPairs(Dedup.winnowMatchPairsIncremental(spark,
      batch1.toDF("doc_id", "text"), dir, "doc_id", "text",
      writer = Some(("wn_inc", 1L))))
    // first delta IS the batch result
    assert(d1 == asPairs(Dedup.winnowMatchPairs(
      batch1.toDF("doc_id", "text"), "doc_id", "text")))
    assert(d1.contains((1L, 2L)))
    val d2 = asPairs(Dedup.winnowMatchPairsIncremental(spark,
      batch2.toDF("doc_id", "text"), dir, "doc_id", "text",
      writer = Some(("wn_inc", 2L))))
    // every delta-2 pair touches the batch; the old (1,2) pair is
    // absent (its fingerprint sets are frozen)
    assert(d2.keys.forall { case (a, b) => a >= 10L || b >= 10L })
    assert(!d2.contains((1L, 2L)))
    assert(d2.contains((1L, 10L)) && d2.contains((2L, 10L))
      && d2.contains((3L, 11L)))
    val folded = d1 ++ d2
    assert(folded == asPairs(Dedup.winnowMatchPairs(
      (batch1 ++ batch2).toDF("doc_id", "text"), "doc_id", "text")))
    // exactly-once: replaying batch 2's append (same txn version)
    // must not grow the index
    val before = graft.sources.SnapshotTable.read(spark, dir).count()
    Dedup.writeFingerprintIndex(batch2.toDF("doc_id", "text"),
      "doc_id", "text", dir, writer = Some(("wn_inc", 2L)))
    assert(graft.sources.SnapshotTable.read(spark, dir).count() == before)
  }

  test("incremental streaming face: foreachBatch deltas folded across " +
      "micro-batches land on the batch rewrite (the q70 pattern)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files
      .createTempDirectory("wn_stream").toString + "/idx"
    val shared = "rolling stone gathers no moss at all"
    val b1 = Seq(1L -> s"first doc carries $shared verbatim",
                 2L -> "second document is entirely clean text")
    val b2 = Seq(3L -> s"third one repeats $shared later on",
                 4L -> "fourth stays unique in every way")
    val input = MemoryStream[(Long, String)]
    var folded = Map.empty[(Long, Long), Long]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        folded = folded ++ asPairs(Dedup.winnowMatchPairsIncremental(
          spark, batch, dir, "doc_id", "text",
          writer = Some(("wn_stream", id))))
      }
      .start()
    input.addData(b1: _*); q.processAllAvailable()
    assert(folded.isEmpty) // nothing shared inside batch 1
    input.addData(b2: _*); q.processAllAvailable()
    q.stop()
    assert(folded == asPairs(Dedup.winnowMatchPairs(
      (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text")))
    assert(folded.contains((1L, 3L)))
  }
}
