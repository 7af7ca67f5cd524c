package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical table layout for scale beyond what Spark's writer does
  * in one call. Hive-style partitioning (`partitionBy`, pruning at the
  * scan) and bucketing (`bucketBy` + `saveAsTable`, co-located joins
  * with no exchange) are plain writer options; `LayoutSpec` pins their
  * plans. What lives here is multi-column clustering.
  *
  * The reference's only layout decision is Cosmos's hash partition key
  * `/HomeID` (`blobToCosmos.py:21`); here the same intent becomes
  * columnar layout: partition coarse, low-cardinality columns
  * (Season / date bucket), bucket high-cardinality join keys (HomeID,
  * user_id), and z-order files on the columns queries filter by.
  */
object Layout {

  /** Z-order clustering into a [[SnapshotTable]]: interleave the bits
    * of per-column quantile-bucket ids so rows close in ANY clustered
    * column land in the same files — then SnapshotTable's per-file
    * min/max stats prune on predicates over EITHER column. A plain
    * sort clusters only its leading column; Z-order is what makes
    * multi-dimensional file skipping work (Delta/Iceberg OPTIMIZE
    * ZORDER is the same construction).
    *
    * Scale posture: bucket boundaries come from `approxQuantile`
    * (one sampled pass, driver holds 2^bits doubles per column —
    * skew-proof where fixed-width buckets are not); the bucket id is a
    * monotone sum of `when` comparisons and the z-value pure shift/or
    * arithmetic, all codegen'd; the clustered write is ONE
    * `repartitionByRange` exchange on the z-value (no global sort, no
    * single-partition bottleneck). Returns the committed version.
    */
  def zOrderInto(spark: SparkSession, df: DataFrame, table: String,
                 cols: Seq[String], bitsPerCol: Int = 4,
                 nFiles: Int = 16): Int = {
    require(cols.nonEmpty && bitsPerCol >= 1 && bitsPerCol <= 8)
    val nBuckets = 1 << bitsPerCol
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    val numeric = df.select(cols.map(c => col(c).cast("double").as(c)): _*)
    val bounds = cols.map(c =>
      c -> numeric.stat.approxQuantile(c, probs, 0.01)).toMap
    // bucket id = number of boundaries <= v (monotone when-sum)
    def bucket(c: String): Column =
      bounds(c).foldLeft(lit(0)) { (acc, b) =>
        acc + when(col(c).cast("double") >= b, 1).otherwise(0)
      }
    // interleave: output bit (j*|cols| + i) = bit j of column i's bucket
    val z = cols.zipWithIndex.map { case (c, i) =>
      val bk = bucket(c)
      (0 until bitsPerCol).map { j =>
        shiftleft(shiftright(bk, j).bitwiseAND(1), j * cols.length + i)
      }.reduce(_.bitwiseOR(_))
    }.reduce(_.bitwiseOR(_))
    val clustered = df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    SnapshotTable.append(clustered, table)
  }
}
