package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{LanguageModel, Materialize}

/** In-engine document quality classifier — the fastText-shaped linear
  * model training pipelines use to score "wiki-like" quality (CCNet,
  * LLaMA data prep): logistic regression over hashed unigram+bigram
  * bag features ([[graft.core.LanguageModel.hashedGrams]] — the same
  * portable feature space DSIR weights).
  *
  * Distribution strategy (the trainer-portfolio pattern —
  * [[ForecastTrainer]]'s Gram, [[KMeansTrainer]]'s sufficient stats):
  * the driver only ever holds the B-bucket weight vector; per
  * iteration the engine runs
  *
  *   1. score pass: features ⋈ BROADCAST(weights) → per-doc margin
  *      (one keyed agg) → residual σ(s) − y against the label;
  *   2. gradient pass: features ⋈ residuals co-partitioned on the doc
  *      key → per-BUCKET gradient (one keyed agg, map-side combined,
  *      B rows collected).
  *
  * The featurized table is L1-normalized (x = count/doc grams, so doc
  * length doesn't dominate), repartitioned ONCE on the doc key and
  * persisted — every iteration's join reuses that partitioning
  * instead of re-shuffling (at 100 TB: a written bucketed table).
  * Training sums floats over docs, so trained weights are
  * deterministic only up to aggregation order (like the other
  * trainers — spec-tested with tolerances, not oracle-gated);
  * INFERENCE under fixed weights is exact fixed-point and
  * oracle-checkable ([[scoreFixedPoint]], gate q71).
  */
object QualityClassifier {

  final case class Model(weights: Array[Double], bias: Double,
                         buckets: Int, lossTrace: Seq[Double])

  private def sigmoid(z: org.apache.spark.sql.Column) =
    lit(1.0) / (lit(1.0) + exp(-z))

  /** L1-normalized hashed-gram features: (id, bucket, x) with
    * x = gram occurrences in bucket / doc's total grams.
    */
  def featurize(docs: DataFrame, idCol: String, textCol: String,
                buckets: Int): DataFrame = {
    val g = LanguageModel.hashedGrams(docs, idCol, textCol, buckets)
    val c = g.groupBy(col(idCol), col("bucket")).agg(count(lit(1)).as("c"))
    val n = c.groupBy(col(idCol)).agg(sum("c").as("n"))
    c.join(n, Seq(idCol))
      .select(col(idCol), col("bucket"),
        (col("c").cast("double") / col("n")).as("x"))
  }

  /** Train by full-batch gradient descent with L2 regularization.
    * `docs` must carry a 0/1 label column. Weights init at zero, so
    * iteration 1's loss is ln 2 — the trace is comparable across runs.
    *
    * The step adapts per iteration (bold driver: ×1.05 on improvement,
    * ×0.5 on regression) — the loss is already computed for the trace,
    * so adaptation is free, and L1-normalized features make the
    * initial large step safe to RECOVER from even when class-correlated
    * buckets push the curvature above the per-doc ‖x‖²/4 bound
    * (measured: fixed 40 oscillates, adaptive 40 reaches the fixed-4
    * optimum in a third of the iterations).
    */
  def train(docs: DataFrame, labelCol: String,
            idCol: String = "doc_id", textCol: String = "text",
            buckets: Int = 4096, iters: Int = 20,
            learningRate: Double = 40.0, l2: Double = 1e-6): Model = Materialize.scope {
    val spark = docs.sparkSession
    import spark.implicits._
    val feats = Materialize.persist(featurize(docs, idCol, textCol, buckets)
      .repartition(col(idCol)))
    val labels = Materialize.persist(
      docs.select(col(idCol), col(labelCol).cast("double").as("y"))
        .repartition(col(idCol)))
    val nDocs = labels.count().toDouble

    val w = new Array[Double](buckets)
    var bias = 0.0
    var step = learningRate
    val losses = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (_ <- 0 until iters) {
      val wDf = broadcast(w.toSeq.zipWithIndex
        .map { case (v, b) => (b.toLong, v) }.toDF("bucket", "w"))
      val scores = feats.join(wDf, Seq("bucket"))
        .groupBy(col(idCol)).agg(sum(col("x") * col("w")).as("s"))
      val (grad, tot) = Materialize.scope {
        val resid = Materialize.persist(labels.join(scores, Seq(idCol), "left")
          .select(col(idCol), col("y"),
            sigmoid(coalesce(col("s"), lit(0.0)) + lit(bias)).as("p"))
          .select(col(idCol), (col("p") - col("y")).as("r"),
            // clamped log-loss, for the trace only
            (-(col("y") * log(greatest(col("p"), lit(1e-12))) +
              (lit(1.0) - col("y")) *
                log(greatest(lit(1.0) - col("p"), lit(1e-12))))).as("ll")))
        // per-bucket gradient: one co-partitioned join + keyed agg
        (feats.join(resid, Seq(idCol))
          .groupBy(col("bucket")).agg(sum(col("x") * col("r")).as("g"))
          .as[(Long, Double)].collect(),
          resid.agg(sum("r"), sum("ll")).head())
      }
      val biasGrad = tot.getDouble(0) / nDocs
      val loss = tot.getDouble(1) / nDocs
      // bold driver on the already-computed loss
      if (losses.nonEmpty)
        step = if (loss <= losses.last) step * 1.05 else step * 0.5
      losses += loss
      grad.foreach { case (b, g) =>
        w(b.toInt) -= step * (g / nDocs + l2 * w(b.toInt))
      }
      bias -= step * biasGrad
    }
    Model(w, bias, buckets, losses.toSeq)
  }

  /** Score documents under a trained model: (id, score, prob). */
  def score(docs: DataFrame, model: Model,
            idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wDf = broadcast(model.weights.toSeq.zipWithIndex
      .map { case (v, b) => (b.toLong, v) }.toDF("bucket", "w"))
    val s = featurize(docs, idCol, textCol, model.buckets)
      .join(wDf, Seq("bucket"))
      .groupBy(col(idCol)).agg(sum(col("x") * col("w")).as("s0"))
    docs.select(col(idCol)).join(s, Seq(idCol), "left")
      .select(col(idCol),
        (coalesce(col("s0"), lit(0.0)) + lit(model.bias)).as("score"))
      .withColumn("prob", sigmoid(col("score")))
  }

  /** Inference under FIXED-POINT integer weights — the exact,
    * engine-portable form (bag counts, unnormalized): score_scaled =
    * Σ_grams w_scaled[bucket] as BIGINT; label = score_scaled > 0.
    * `weightsScaled` is a (bucket, w_scaled BIGINT) table, broadcast.
    * This is the shape a PRODUCTION scorer ships once training is
    * done: weights quantized, scores exact integers (the gate derives
    * weights from the portable hash so DuckDB reproduces them).
    */
  def scoreFixedPoint(docs: DataFrame, weightsScaled: DataFrame,
                      buckets: Int, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val g = LanguageModel.hashedGrams(docs, idCol, textCol, buckets)
    val s = g.join(broadcast(weightsScaled), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(sum("w_scaled").as("score_scaled"), count(lit(1)).as("n_grams"))
    docs.select(col(idCol)).join(s, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("score_scaled"), lit(0L)).as("score_scaled"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"))
      .withColumn("label", col("score_scaled") > 0L)
  }

  /** Deterministic hash-derived fixed-point weight table (the q71
    * oracle embeds the same formula): w(b) = hash("w:b") mod 1000001
    * − 500000 ∈ [−500000, 500000].
    */
  def hashWeights(spark: SparkSession, buckets: Int): DataFrame = {
    import spark.implicits._
    (0L until buckets.toLong).map { b =>
      (b, graft.expressions.RollingHash.hash(s"w:$b") % 1000001L - 500000L)
    }.toDF("bucket", "w_scaled")
  }
}
