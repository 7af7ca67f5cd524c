package graft

import graft.ml.{IsoForestScorer, IsoForestTrainer}
import org.apache.spark.sql.functions._

/** In-engine IsolationForest training: flags planted outliers, honors
  * the contamination calibration, and is deterministic under a seed.
  */
class IsoForestTrainerSpec extends SparkSpec {
  import spark.implicits._

  // 2000 inliers in a tight cluster + 40 far-away outliers
  private lazy val data = {
    val rng = new scala.util.Random(7)
    val inliers = Seq.fill(2000)((rng.nextGaussian(), rng.nextGaussian(),
      rng.nextGaussian() * 0.5 + 1.0, false))
    val outliers = Seq.fill(40)((rng.nextGaussian() + 12.0,
      rng.nextGaussian() - 12.0, rng.nextGaussian() * 0.5 + 9.0, true))
    (inliers ++ outliers).toDF("f1", "f2", "f3", "planted")
  }

  test("fit: planted outliers score anomalous, overall share ~ contamination") {
    val model = IsoForestTrainer.fit(data, Seq("f1", "f2", "f3"),
      nTrees = 100, maxSamples = 128, contamination = 0.05, seed = 11L)
    val bc = spark.sparkContext.broadcast(model)
    val scoreUdf = udf((a: Double, b: Double, c: Double) =>
      bc.value.decisionFunction(Array(a, b, c)))
    val scored = data.withColumn("score", scoreUdf($"f1", $"f2", $"f3"))
      .withColumn("anomaly", $"score" < 0)
    val plantedCaught = scored.filter($"planted" && $"anomaly").count()
    assert(plantedCaught >= 36, s"caught $plantedCaught/40 planted outliers")
    val share = scored.filter($"anomaly").count().toDouble / 2040
    assert(share > 0.02 && share < 0.10, s"flagged share $share")
    // outliers should rank strictly below the inlier median
    val medIn = scored.filter(!$"planted").agg(expr("percentile(score, 0.5)"))
      .head().getDouble(0)
    val maxOut = scored.filter($"planted").agg(max("score")).head().getDouble(0)
    assert(maxOut < medIn)
  }

  test("fit casts integer feature columns (count features) to double") {
    val counts = data.withColumn("f3", round($"f3").cast("int"))
    val model = IsoForestTrainer.fit(counts, Seq("f1", "f2", "f3"),
      nTrees = 50, maxSamples = 128, seed = 11L)
    val bc = spark.sparkContext.broadcast(model)
    val scoreUdf = udf((a: Double, b: Double, c: Double) =>
      bc.value.decisionFunction(Array(a, b, c)))
    val caught = counts.filter($"planted" &&
      scoreUdf($"f1", $"f2", $"f3".cast("double")) < 0).count()
    assert(caught >= 36, s"caught $caught/40 planted outliers")
  }

  test("fit is deterministic under a fixed seed") {
    val m1 = IsoForestTrainer.fit(data, Seq("f1", "f2", "f3"),
      nTrees = 20, maxSamples = 64, seed = 3L)
    val m2 = IsoForestTrainer.fit(data, Seq("f1", "f2", "f3"),
      nTrees = 20, maxSamples = 64, seed = 3L)
    assert(m1.offset == m2.offset)
    val probe = Array(5.0, -5.0, 4.0)
    assert(m1.decisionFunction(probe) == m2.decisionFunction(probe))
  }
}
