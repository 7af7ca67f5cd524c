package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Materialize, TextAnalysis}

/** Streaming boilerplate detection: windowed n-gram heavy hitters
  * over a document stream — the online form of
  * [[graft.core.TextAnalysis.topNgrams]] (batch) for catching
  * template/spam bursts as they arrive rather than in the nightly
  * sweep.
  *
  * Spark-first state story: the aggregation state is (window, ngram)
  * partial counts, map-side combined before the shuffle exactly like
  * the batch query, and EVICTED by the watermark — state is bounded
  * by (grams per window × windows in flight), not by stream length.
  * Counts within a window are exact; the heavy-hitter filter applies
  * at emission (append mode: a window's hitters emit once, when the
  * watermark closes it). For unbounded within-window cardinality
  * (web-scale 5-gram streams), [[graft.core.Sketches.countMin]] on a
  * foreachBatch loop is the documented sketch fallback — same answer
  * shape, ε-approximate counts, constant state.
  */
object NgramStream {

  def heavyHitters(docs: DataFrame, tsCol: String, textCol: String,
                   n: Int, minCount: Long,
                   windowDuration: String = "5 minutes",
                   watermark: String = "10 minutes"): DataFrame =
    docs.withWatermark(tsCol, watermark)
      .select(col(tsCol),
        explode(TextAnalysis.ngramsAll(col(textCol), n)).as("ngram"))
      .groupBy(window(col(tsCol), windowDuration), col("ngram"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)

  /** The CONSTANT-STATE fallback for web-scale gram cardinality,
    * where exact (window, ngram) aggregation state would grow with
    * the vocabulary of the stream: a Count-Min sketch accumulated
    * across micro-batches (`foreachBatch` driver loop), plus a
    * bounded candidate head (per-batch exact top-K — CMS can
    * estimate any gram but cannot ENUMERATE, and a gram that never
    * cracks a batch's top-K at candidate time is not a stream heavy
    * hitter). State is eps×confidence grid + K strings, independent
    * of stream length; estimates only ever overcount, so
    * `minCount`-thresholded hitters have no false negatives among
    * candidates. The per-batch sketch is built DISTRIBUTED
    * (tree-merged partials, exactly the batch [[graft.core.Sketches]]
    * path) — the driver only merges one sketch per batch.
    * `CountMinSketch.writeTo/readFrom` make the state checkpointable
    * alongside the stream's offsets for restart-safety (the
    * band-index-as-state pattern, sketch-shaped).
    */
  final class CmsHeavyHitters(n: Int, topKPerBatch: Int = 1000,
                              eps: Double = 0.001,
                              confidence: Double = 0.99,
                              seed: Int = 42,
                              capFactor: Int = 4) extends Serializable {
    private var cms: org.apache.spark.util.sketch.CountMinSketch = _
    private val candidates = scala.collection.mutable.Set.empty[String]

    /** foreachBatch body. */
    def update(batch: DataFrame, textCol: String): Unit = Materialize.scope {
      val grams = Materialize.persist(batch.select(
        explode(TextAnalysis.ngramsAll(col(textCol), n)).as("ngram")))
      val batchCms = grams.stat.countMinSketch(
        col("ngram"), eps, confidence, seed)
      cms = if (cms == null) batchCms
      else { cms.mergeInPlace(batchCms); cms }
      candidates ++= grams.groupBy("ngram").count()
        .orderBy(col("count").desc, col("ngram"))
        .limit(topKPerBatch)
        .collect().map(_.getString(0))
      // Bound the candidate head: without eviction it grows by up
      // to topKPerBatch per micro-batch, breaking the constant-state
      // contract. Keep the `capFactor` × topK candidates with the
      // highest CMS estimates — a dropped gram was below ~cap-K
      // stream-so-far, and if it heats up later it re-enters through
      // a batch top-K (the same admission path as any hitter).
      val cap = capFactor * topKPerBatch
      if (candidates.size > cap) {
        val keep = candidates.toSeq
          .map(g => (g, cms.estimateCount(g)))
          .sortBy { case (g, c) => (-c, g) }
          .take(cap).map(_._1)
        candidates.clear()
        candidates ++= keep
      }
    }

    /** Stream-so-far heavy hitters: candidates whose CMS estimate
      * clears the threshold (overestimates only — no false negatives
      * within the candidate set).
      */
    def heavyHitters(minCount: Long): Seq[(String, Long)] =
      if (cms == null) Nil
      else candidates.toSeq
        .map(g => (g, cms.estimateCount(g)))
        .filter(_._2 >= minCount)
        .sortBy { case (g, c) => (-c, g) }

    /** Current candidate-head size (bounded by capFactor × topK). */
    def candidateCount: Int = candidates.size

    def sketchBytes: Array[Byte] = {
      require(cms != null, "no batch processed yet — nothing to checkpoint")
      val out = new java.io.ByteArrayOutputStream()
      cms.writeTo(out)
      out.toByteArray
    }
  }
}
