package graft

import graft.core.Decontaminate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Persisted/incremental decontamination index (the q311/q102
  * discipline applied to eval-suite state): indexed faces must equal
  * the batch operators bit-for-bit, eval-version deltas must fold to
  * the batch result, and the index append must be replay-safe.
  */
class DecontamIndexSpec extends SparkSpec {
  import spark.implicits._

  // train doc 1 holds two eval-v1 shingles, doc 3 holds an eval-v2
  // shingle, doc 4 holds one of each, doc 2 is clean
  private val trainRows = Seq(
    1L -> "alpha beta gamma delta epsilon zeta",
    2L -> "totally unrelated clean training document text",
    3L -> "prefix iota kappa lambda mu suffix",
    4L -> "alpha beta gamma then iota kappa lambda trailing")
  // eval v2's first shingle (beta gamma delta) REPEATS an eval-v1 key:
  // the freshness split must not recount it in the second delta
  private val eval1 = Seq(100L -> "alpha beta gamma delta")
  private val eval2 = Seq(200L -> "beta gamma delta iota kappa lambda")

  private def train = trainRows.toDF("doc_id", "text")
  private def ev(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
  private def evalUnion = ev(eval1 ++ eval2)

  private def flagMap(df: DataFrame): Map[Long, (Long, Boolean)] =
    df.select("doc_id", "n_hits", "contaminated")
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

  private def scrubMap(df: DataFrame): Map[Long, (String, Long, Long)] =
    df.as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

  test("indexed faces == batch operators over the indexed eval union") {
    val idx = java.nio.file.Files
      .createTempDirectory("decontam_idx").toString + "/idx"
    Decontaminate.writeEvalShingleIndex(ev(eval1), "doc_id", "text", idx, n = 3)
    Decontaminate.writeEvalShingleIndex(ev(eval2), "doc_id", "text", idx, n = 3)

    val gotFlag = flagMap(Decontaminate.flagContaminatedIndexed(
      spark, train, idx, "doc_id", "text", n = 3))
    val wantFlag = flagMap(Decontaminate.flagContaminated(
      train, evalUnion, "doc_id", "text", n = 3))
    assert(gotFlag == wantFlag)
    assert(wantFlag(2L) == ((0L, false)) && wantFlag(1L)._2)

    val gotScrub = scrubMap(Decontaminate.scrubSpansIndexed(
      spark, train, idx, "doc_id", "text", n = 3))
    val wantScrub = scrubMap(Decontaminate.scrubSpans(
      train, evalUnion, "doc_id", "text", n = 3))
    assert(gotScrub == wantScrub)
    assert(gotScrub(2L)._3 == 0L) // clean doc untouched
    assert(gotScrub(1L)._3 > 0L)  // contaminated span removed
  }

  test("eval-version flag deltas fold to the batch result; repeated " +
      "keys are not recounted") {
    val idx = java.nio.file.Files
      .createTempDirectory("decontam_inc").toString + "/idx"
    val d1 = Decontaminate.flagContaminatedIncremental(spark, train,
        ev(eval1), idx, "doc_id", "text", n = 3)
      .as[(Long, Long)].collect().toMap
    val d2 = Decontaminate.flagContaminatedIncremental(spark, train,
        ev(eval2), idx, "doc_id", "text", n = 3)
      .as[(Long, Long)].collect().toMap
    val folded = trainRows.map(_._1).map { id =>
      id -> (d1.getOrElse(id, 0L) + d2.getOrElse(id, 0L))
    }.toMap
    val want = flagMap(Decontaminate.flagContaminated(
      train, evalUnion, "doc_id", "text", n = 3)).map {
      case (id, (h, _)) => id -> h
    }
    assert(folded == want)
    // doc 1 shares "beta gamma delta" with BOTH eval versions — it
    // was counted in delta 1, so delta 2 must not touch doc 1 at all
    assert(d1(1L) >= 2L)
    assert(!d2.contains(1L))
    assert(d2(3L) >= 1L) // the genuinely new eval-v2 span
  }

  test("eval-version scrub deltas fold (replace-by-id) to the batch " +
      "rewrite; only affected docs re-emit") {
    val idx = java.nio.file.Files
      .createTempDirectory("decontam_scr").toString + "/idx"
    Decontaminate.writeEvalShingleIndex(ev(eval1), "doc_id", "text", idx, n = 3)
    val base = scrubMap(Decontaminate.scrubSpansIndexed(
      spark, train, idx, "doc_id", "text", n = 3))
    val delta = scrubMap(Decontaminate.scrubSpansIncremental(spark,
      train, ev(eval2), idx, "doc_id", "text", n = 3))
    // the delta carries ONLY docs holding a key eval v2 newly added
    assert(!delta.contains(2L))
    assert(delta.contains(3L) && delta.contains(4L))
    val folded = base ++ delta
    val want = scrubMap(Decontaminate.scrubSpans(
      train, evalUnion, "doc_id", "text", n = 3))
    assert(folded == want)
  }

  test("streaming eval suite via foreachBatch: folded deltas == batch; " +
      "txn appends survive batch replay") {
    implicit val sqlCtx = spark.sqlContext
    val idx = java.nio.file.Files
      .createTempDirectory("decontam_str").toString + "/idx"
    val input = MemoryStream[(Long, String)]
    var folded = Map.empty[Long, Long]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val delta = Decontaminate.flagContaminatedIncremental(spark,
          train, batch, idx, "doc_id", "text", n = 3,
          writer = Some(("decontam_stream", id)))
        delta.as[(Long, Long)].collect().foreach { case (doc, h) =>
          folded = folded.updated(doc, folded.getOrElse(doc, 0L) + h)
        }
      }
      .start()
    input.addData(eval1: _*); q.processAllAvailable()
    input.addData(eval2: _*); q.processAllAvailable()
    q.stop()
    val want = flagMap(Decontaminate.flagContaminated(
      train, evalUnion, "doc_id", "text", n = 3))
      .collect { case (id, (h, _)) if h > 0 => id -> h }
    assert(folded == want)
    // exactly-once: replaying batch 0's append must not grow the index
    val before = graft.sources.SnapshotTable.read(spark, idx).count()
    Decontaminate.writeEvalShingleIndex(ev(eval1), "doc_id", "text",
      idx, n = 3, writer = Some(("decontam_stream", 0L)))
    val after = graft.sources.SnapshotTable.read(spark, idx).count()
    assert(after == before, "replayed append must be a no-op")
  }

  test("flagContaminatedEmbedding: identical vector flags, orthogonal " +
      "stays clean, cosine ties resolve to the lowest eval id") {
    import org.apache.spark.sql.functions.col
    val train = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),   // == eval 10 -> cos 1.0
      (2L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal to both evals
      (3L, Array(0.6f, 0.0f, 0.8f)))   // cos 0.6 to BOTH evals (tie)
      .toDF("vec_id", "embedding")
    val eval = Seq(
      (10L, Array(1.0f, 0.0f, 0.0f)),
      (20L, Array(2.0f, 0.0f, 0.0f)))  // same direction, scaled
      .toDF("vec_id", "embedding")
    val got = Decontaminate.flagContaminatedEmbedding(train, eval, 0.9)
      .as[(Long, Double, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L)._2 == 1.0 && got(1L)._4)
    assert(got(2L)._2 == 0.0 && !got(2L)._4 && got(2L)._3 == 10L)
    assert(got(3L)._2 == 0.6 && !got(3L)._4 && got(3L)._3 == 10L)
    assert(got.size == 3)
  }

  test("flagContaminatedEmbeddingIndexed: an index past maxIndexRows " +
      "fails loudly naming the IVF escape hatch; under the cap it " +
      "broadcasts as before") {
    import org.apache.spark.sql.functions.col
    val train = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val ev = (10L to 15L).map(i => (i, Array(1.0f, i.toFloat)))
      .toDF("vec_id", "embedding")
    val idx = java.nio.file.Files
      .createTempDirectory("decontam_cap").toString + "/idx"
    Decontaminate.writeEvalEmbeddingIndex(ev, "vec_id", "embedding", idx)
    val e = intercept[Exception] {
      Decontaminate.flagContaminatedEmbeddingIndexed(spark, train, idx,
        0.5, maxIndexRows = 3L).collect()
    }
    assert(e.getMessage.contains("flagContaminatedEmbeddingIvf"))
    assert(e.getMessage.contains("cap 3"))
    val ok = Decontaminate.flagContaminatedEmbeddingIndexed(spark,
      train, idx, 0.5, maxIndexRows = 6L).collect()
    assert(ok.length == 1)
  }

  test("flagContaminatedEmbeddingIvf: nProbe=0 (every bucket) equals " +
      "the broadcast face bit-for-bit; nProbe=1 is a recall trade " +
      "whose hits are a subset with identical scores") {
    import org.apache.spark.sql.functions.col
    // 40 train vectors on a ring, 12 eval vectors, 3 centroids
    def ring(i: Int, r: Float) = Array(
      (r * math.cos(i * 0.31)).toFloat, (r * math.sin(i * 0.31)).toFloat)
    val train = (0 until 40).map(i => (i.toLong, ring(i, 2f)))
      .toDF("vec_id", "embedding")
    val ev = (100 until 112).map(i => (i.toLong, ring(i * 3, 1f)))
      .toDF("vec_id", "embedding")
    val cents = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(-0.5f, 0.9f)),
      (2L, Array(-0.5f, -0.9f)))
      .toDF("centroid_id", "embedding")
    val idx = java.nio.file.Files
      .createTempDirectory("decontam_ivf").toString + "/idx"
    Decontaminate.writeEvalEmbeddingIndex(ev, "vec_id", "embedding", idx)
    def m(df: DataFrame) =
      df.as[(Long, Double, Long, Boolean)].collect()
        .map(r => r._1 -> r).toMap
    val batch = m(Decontaminate.flagContaminatedEmbedding(
      train, ev, 0.8))
    val exact = m(Decontaminate.flagContaminatedEmbeddingIvf(
      spark, train, idx, cents, 0.8, nProbe = 0))
    assert(exact == batch)
    // probe face: every emitted row's (max_cosine, nearest) is the
    // exact face's value or a dominated one; flagged set ⊆ exact's
    val probed = m(Decontaminate.flagContaminatedEmbeddingIvf(
      spark, train, idx, cents, 0.8, nProbe = 1))
    assert(probed.nonEmpty && probed.keySet.subsetOf(batch.keySet))
    probed.foreach { case (id, r) =>
      assert(r._2 <= batch(id)._2)
      if (r._4) assert(batch(id)._4)
    }
    // recall floor for this geometry: at least half the truly
    // contaminated docs survive a single-probe screen
    val truePos = batch.collect { case (id, r) if r._4 => id }.toSet
    val gotPos = probed.collect { case (id, r) if r._4 => id }.toSet
    assert(truePos.isEmpty || gotPos.size * 2 >= truePos.size)
  }

  test("streaming eval-EMBEDDING suite via foreachBatch: per-version " +
      "deltas fold by max to the batch result; txn appends survive " +
      "replay") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val train = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.8f, 0.6f))).toDF("vec_id", "embedding")
    val ev1 = Seq((10L, Array(1.0f, 0.0f)))
    val ev2 = Seq((20L, Array(0.0f, 2.0f)))
    val idx = java.nio.file.Files
      .createTempDirectory("decontam_estr").toString + "/idx"
    val input = MemoryStream[(Long, Array[Float])]
    var folded = Map.empty[Long, (Double, Long, Boolean)]
    val q = input.toDF().toDF("vec_id", "embedding").writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        Decontaminate.flagContaminatedEmbeddingIncremental(spark,
            train, batch, idx, 0.9, writer = Some(("emb_stream", id)))
          .as[(Long, Double, Long, Boolean)].collect().foreach { r =>
            // the q330 fold: keep the higher rounded cosine (ties to
            // the lower eval id); contaminated ORs across deltas
            val prev = folded.get(r._1)
            val best = prev match {
              case Some((pc, pn, _))
                  if pc > r._2 || (pc == r._2 && pn < r._3) => (pc, pn)
              case _ => (r._2, r._3)
            }
            folded = folded.updated(r._1,
              (best._1, best._2, r._4 || prev.exists(_._3)))
          }
      }
      .start()
    input.addData(ev1: _*); q.processAllAvailable()
    input.addData(ev2: _*); q.processAllAvailable()
    q.stop()
    val want = Decontaminate.flagContaminatedEmbedding(train,
        (ev1 ++ ev2).toDF("vec_id", "embedding"), 0.9)
      .as[(Long, Double, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(folded == want)
    // exactly-once: replaying batch 0's append must not grow the index
    val before = graft.sources.SnapshotTable.read(spark, idx).count()
    Decontaminate.writeEvalEmbeddingIndex(
      ev1.toDF("vec_id", "embedding"), "vec_id", "embedding", idx,
      writer = Some(("emb_stream", 0L)))
    assert(graft.sources.SnapshotTable.read(spark, idx).count() == before)
  }

  test("flagContaminatedEmbedding: a zero-norm embedding on either " +
      "side fails loudly instead of NaN-flagging every doc") {
    import org.apache.spark.sql.functions.col
    val good = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val zero = Seq((9L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val e1 = intercept[Exception] {
      Decontaminate.flagContaminatedEmbedding(zero, good, 0.5).collect()
    }
    assert(e1.getMessage.contains("zero-norm train embedding"))
    val e2 = intercept[Exception] {
      Decontaminate.flagContaminatedEmbedding(good, zero, 0.5).collect()
    }
    assert(e2.getMessage.contains("zero-norm eval embedding"))
    // null embedding is just as degenerate — same loud path
    val nul = Seq((7L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    val e3 = intercept[Exception] {
      Decontaminate.flagContaminatedEmbedding(nul, good, 0.5).collect()
    }
    assert(e3.getMessage.contains("zero-norm train embedding"))
  }

  test("semantic index faces: indexed == batch; version deltas fold " +
      "by per-doc max (ties to lower eval id); replay-safe appends") {
    import org.apache.spark.sql.functions.col
    val train = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.8f, 0.6f))).toDF("vec_id", "embedding")
    val ev1 = Seq((10L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val ev2 = Seq((20L, Array(0.0f, 2.0f))).toDF("vec_id", "embedding")
    val idx = java.nio.file.Files
      .createTempDirectory("decontam_emb").toString + "/idx"
    def m(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Double, Long, Boolean)].collect()
        .map(r => r._1 -> r).toMap
    val d1 = m(Decontaminate.flagContaminatedEmbeddingIncremental(
      spark, train, ev1, idx, 0.9, writer = Some(("emb", 0L))))
    val d2 = m(Decontaminate.flagContaminatedEmbeddingIncremental(
      spark, train, ev2, idx, 0.9, writer = Some(("emb", 1L))))
    // fold: keep the higher cosine, ties to the LOWER eval id
    val folded = (d1.keySet ++ d2.keySet).map { id =>
      val a = d1(id); val b = d2(id)
      id -> (if (a._2 > b._2 || (a._2 == b._2 && a._3 < b._3)) a else b)
    }.toMap
    val batch = m(Decontaminate.flagContaminatedEmbedding(
      train, ev1.unionByName(ev2), 0.9))
    assert(folded == batch)
    val indexed = m(Decontaminate.flagContaminatedEmbeddingIndexed(
      spark, train, idx, 0.9))
    assert(indexed == batch)
    assert(batch(1L)._4 && batch(2L)._4 && !batch(3L)._4)
    // replayed append is a no-op
    val before = graft.sources.SnapshotTable.read(spark, idx).count()
    Decontaminate.writeEvalEmbeddingIndex(ev1, "vec_id", "embedding",
      idx, writer = Some(("emb", 0L)))
    assert(graft.sources.SnapshotTable.read(spark, idx).count() == before)
  }
}
