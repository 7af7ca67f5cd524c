package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** The two-phase distributed prefix scan: the one algorithm behind
  * every corpus-wide ordering here (token offsets, global ranks,
  * running totals, the skyline's running max). A naive
  * `Window.orderBy(order)` computes a running aggregate on ONE
  * partition, the canonical driver-bottleneck anti-pattern. The scan
  * is fully declarative:
  *
  *   1. range-partition by the scan order (contiguous key ranges per
  *      partition; AQE may coalesce, but only ADJACENT ranges, so
  *      contiguity survives, and a range partitioner assigns purely by
  *      key, so equal keys always share a partition);
  *   2. partition-local running aggregates (windows keyed on the range
  *      partition id);
  *   3. one total per partition (a P-row aggregate), turned into
  *      exclusive partition prefixes by a P-row window (the only
  *      single-partition step, over at most a few thousand rows at any
  *      scale), broadcast-joined back and folded into each row.
  *
  * Two persists. The input: `repartitionByRange` SAMPLES its child to
  * pick boundaries, so an un-cached input computes twice (for a token
  * count, a whole extra corpus tokenize); the sampling pass reads every
  * row anyway, so it fills the cache and the exchange's map pass reads
  * it. The partition-tagged rows: the totals must see the SAME
  * partition ids as the rows. Without it Catalyst plans a second scan
  * and range exchange for the totals, which doubles the input scan and
  * agrees on boundaries only because boundary sampling happens to be
  * deterministic. Both register with the caller's [[Materialize.scope]];
  * nothing here runs an action, so the result stays lazy.
  *
  * Under ties in the scan order, [[RunningSum]] and [[DenseRank]] match
  * the single window exactly (its default RANGE frame shares ties, and
  * tied rows share a range partition); [[RowRank]] and [[MaxBefore]]
  * depend on the order within ties, as the window does, so their
  * callers pass a total order.
  */
private[graft] object PrefixScan {

  /** One running aggregate the scan carries, named `as` in the output:
    * its value within a range partition, a partition's total, the fold
    * of all earlier partitions' totals, and how that fold joins a row's
    * partition-local value.
    */
  sealed trait Running {
    def as: String
    def local(w: WindowSpec): Column
    def total(local: Column): Column
    def before(totals: Column, w: WindowSpec): Column =
      coalesce(sum(totals).over(w), lit(0L))
    def fold(local: Column, before: Column): Column = local + before
  }

  /** Inclusive running sum of `weight`. */
  final case class RunningSum(weight: String, as: String) extends Running {
    def local(w: WindowSpec) = sum(weight).over(w)
    def total(local: Column) = sum(weight)
  }

  /** 1-based position in the scan order (BIGINT). */
  final case class RowRank(as: String) extends Running {
    def local(w: WindowSpec) = row_number().over(w).cast("long")
    def total(local: Column) = max(local)
  }

  /** 1-based dense rank of the scan order (BIGINT): each partition's
    * largest local dense rank is its count of distinct keys, NULL
    * included, and no key spans two partitions.
    */
  final case class DenseRank(as: String) extends Running {
    def local(w: WindowSpec) = dense_rank().over(w).cast("long")
    def total(local: Column) = max(local)
  }

  /** Exclusive running max of `value`: NULL where no earlier row has
    * a value.
    */
  final case class MaxBefore(value: String, as: String) extends Running {
    def local(w: WindowSpec) =
      max(value).over(w.rowsBetween(Window.unboundedPreceding, -1))
    def total(local: Column) = max(value)
    override def before(totals: Column, w: WindowSpec) = max(totals).over(w)
    override def fold(local: Column, before: Column) = greatest(local, before)
  }

  /** `rows`: the input's columns, then one column per [[Running]].
    * `totals`: one row per non-empty range partition, `_pid` and each
    * running aggregate's partition total under its output name.
    */
  final case class Scan(rows: DataFrame, totals: DataFrame)

  def apply(input: DataFrame, order: Seq[Column], running: Running*): Scan = {
    require(running.nonEmpty, "a prefix scan needs a running aggregate")
    val locals = running.indices.map(i => s"_local$i")
    val w = Window.partitionBy("_pid").orderBy(order: _*)
    val local = Materialize.persist(Materialize.persist(input)
      .repartitionByRange(order: _*)
      .withColumn("_pid", spark_partition_id())
      .select(col("*") +: running.zip(locals).map { case (r, l) =>
        r.local(w).as(l) }: _*))
    val sums = running.zip(locals).map { case (r, l) => r.total(col(l)).as(r.as) }
    val totals = local.groupBy("_pid").agg(sums.head, sums.tail: _*)
    val earlier = Window.orderBy("_pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefixes = totals.select(col("_pid") +: running.zipWithIndex.map {
      case (r, i) => r.before(col(r.as), earlier).as(s"_before$i") }: _*)
    val rows = local.join(broadcast(prefixes), Seq("_pid"))
      .select(input.columns.map(col) ++ running.zip(locals).zipWithIndex.map {
        case ((r, l), i) => r.fold(col(l), col(s"_before$i")).as(r.as) }: _*)
    Scan(rows, totals)
  }
}
