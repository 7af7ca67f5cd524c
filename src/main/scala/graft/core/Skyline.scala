package graft.core

import org.apache.spark.sql.{Column, DataFrame}
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
  * That prefix max is a [[PrefixScan]] over the grid, so nothing
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
    val frontierX = PrefixScan(grid, Seq(col("x")),
        PrefixScan.MaxBefore("ymax", "_before")).rows
      .filter(col("ymax") > coalesce(col("_before"), lit(Long.MinValue)))
      .select(col("x").as("_fx"), col("ymax").as("_fy"))
    Materialize.localCheckpoint(pts.join(frontierX,
        col("x") === col("_fx") && col("y") === col("_fy"))
      .select(col("id"), col("x"), col("y")))
  }
}
