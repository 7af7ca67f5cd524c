package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Materialize

/** Batch perceptron (Rosenblatt's rule, full-batch form) on the
  * micro-integer lattice — linear-classifier training expressed as
  * pure relational aggregation, the "ML training is just a grouped
  * sum" primitive: per epoch every misclassified point contributes
  * y·x to the weight update,
  *
  *   w_{e+1} = w_e + Σ_{y·⟨w_e, x⟩ ≤ 0} y·x
  *
  * and with integer features (floor(v·1e6), the q198 convention, plus
  * a constant bias coordinate) EVERY quantity — margins, updates,
  * weights — is exact BIGINT arithmetic: no learning rate, no float,
  * bit-identical in any engine, so the oracle replays training
  * verbatim with unrolled epoch CTEs.
  *
  * Scale shape: the weight vector is model-size and rides the driver
  * (the kCenterSelect bounded-driver-pass discipline): each epoch is
  * ONE narrow margin projection against literal weights + two
  * map-side-combinable aggregates (dim-keyed update sums via
  * posexplode — 65 cells — and the scalar misclassified count); the
  * corpus never shuffles. Epochs are fixed and small. Margin sums
  * stay in BIGINT for corpora up to ~1e10 rows at this value range
  * (|w_d| ≤ epochs·n·6e5; beyond that the identical sums feed
  * DECIMAL(38)).
  *
  * Output rows, not columns, so epoch curve and weights share one
  * schema: ('mis', epoch, count evaluated BEFORE that epoch's
  * update) and ('w', dim, final weight) with dim = n_dims for the
  * bias.
  */
object Perceptron {

  def trainBatch(emb: DataFrame, vecCol: String, labelPos: Column,
                 epochs: Int): DataFrame = Materialize.scope {
    require(epochs >= 1, "epochs must be >= 1")
    val spark = emb.sparkSession
    import spark.implicits._
    val pts = Materialize.persist(emb.select(
        concat(
          expr(s"transform($vecCol, v -> " +
            "CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT))"),
          array(lit(1000000L))).as("xm"),
        when(labelPos, 1L).otherwise(-1L).as("y")))
    val dims = pts.select(size(col("xm"))).head().getInt(0)
    var w = Array.fill(dims)(0L)
    val misCurve = Array.newBuilder[(Int, Long)]
    for (e <- 1 to epochs) {
      val margin: Column = aggregate(
        zip_with(col("xm"), typedLit(w.toSeq), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x)
      val flagged = pts.withColumn("mis", (col("y") * margin) <= 0L)
      val nMis = flagged.agg(
        sum(when(col("mis"), 1L).otherwise(0L))).head().getLong(0)
      val delta = flagged.filter(col("mis"))
        .select(posexplode(col("xm")).as(Seq("d", "x")), col("y"))
        .groupBy("d").agg(sum(col("y") * col("x")).as("dw"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      w = w.indices.map(d => w(d) + delta.getOrElse(d, 0L)).toArray
      misCurve += (e -> nMis)
    }
    val rows = misCurve.result().map { case (e, n) =>
      ("mis", e.toLong, n) } ++
      w.zipWithIndex.map { case (wd, d) => ("w", d.toLong, wd) }
    rows.toSeq.toDF("kind", "idx", "val")
  }
}
