package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pareto-frontier (skyline) selection — "best trade-off" curation:
  * keep every point no other point dominates, where a dominates b iff
  * a is ≤ in the minimized dimension AND ≥ in the maximized one, with
  * at least one strict. The classic answer to "which suppliers /
  * configs / documents are undominated under (cost, utility)" that
  * top-k by any single weighted score cannot give (the frontier is
  * exactly the set of ALL weightings' winners).
  *
  * 2-D skylines are a prefix-scan, not a join (Börzsönyi et al., ICDE
  * 2001 made the sort-based observation): group to the distinct-x
  * grid with per-x max y, then a point is on the frontier iff its y
  * equals its x's max AND strictly exceeds every smaller x's max.
  * That prefix max runs as the SAME two-phase distributed pattern as
  * [[Packing.offsetsBy]] — range-partition by x, per-partition
  * running max, per-partition totals broadcast back — so nothing
  * corpus-sized ever sorts in one task and the only global window
  * orders the partition-count-sized totals table (the documented
  * bounded exception).
  *
  * Exactness: max/compare only — no arithmetic at all, so any integer
  * lattice works unchanged at any scale. Ties on both dims are kept
  * (neither dominates). Output: the input rows (id, x, y) on the
  * frontier.
  */
object Skyline {

  /** @param xMin integer column to MINIMIZE
    * @param yMax integer column to MAXIMIZE
    */
  def skyline2d(df: DataFrame, id: Column, xMin: Column,
                yMax: Column): DataFrame = Materialize.scope {
    val pts = df.select(id.as("id"), xMin.as("x"), yMax.as("y"))
    val grid = pts.groupBy("x").agg(max("y").as("ymax"))
    // persist: the totals branch must see the SAME _pid assignment
    // (the offsetsBy discipline — never lean on resample luck)
    val ranged = Materialize.persist(grid.repartitionByRange(col("x"))
      .withColumn("_pid", spark_partition_id()))
    val localMax = ranged.withColumn("_run",
      max("ymax").over(Window.partitionBy("_pid").orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)))
    val ptotals = ranged.groupBy("_pid").agg(max("ymax").as("_pmax"))
      .withColumn("_before",
        max("_pmax").over(Window.orderBy("_pid")
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("_pid"), col("_before"))
    val frontierX = localMax.join(broadcast(ptotals), Seq("_pid"))
      .filter(col("ymax") > coalesce(greatest(
        coalesce(col("_run"), col("_before")),
        coalesce(col("_before"), col("_run"))), lit(Long.MinValue)))
      .select(col("x").as("_fx"), col("ymax").as("_fy"))
    Materialize.localCheckpoint(pts.join(frontierX,
        col("x") === col("_fx") && col("y") === col("_fy"))
      .select(col("id"), col("x"), col("y")))
  }
}
