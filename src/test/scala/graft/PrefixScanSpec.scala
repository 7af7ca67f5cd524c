package graft

import graft.core.{Materialize, PrefixScan}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [[PrefixScan]] against the single-window formulation it distributes
  * (`Window.orderBy(order)`, one partition), on degenerate inputs:
  * empty, one row, one order key shared by every row, more shuffle
  * partitions than rows, and NULL order keys (first, as in the window).
  * Every kind is checked under a total order (key, id); the tie-exact
  * kinds (running sum, dense rank) also under the key alone, where tied
  * rows must share a range partition.
  */
class PrefixScanSpec extends SparkSpec {
  import spark.implicits._

  private def input(rows: (Long, Option[Long], Long)*): DataFrame =
    rows.toDF("id", "k", "w")

  /** Each kind, output as `out`, beside the window column it equals. */
  private def kinds(order: Seq[Column]): Seq[(PrefixScan.Running, Column)] = {
    val w = Window.orderBy(order: _*)
    Seq(
      PrefixScan.RunningSum("w", "out") -> sum("w").over(w),
      PrefixScan.RowRank("out") -> row_number().over(w).cast("long"),
      PrefixScan.DenseRank("out") -> dense_rank().over(w).cast("long"),
      PrefixScan.MaxBefore("w", "out") ->
        max("w").over(w.rowsBetween(Window.unboundedPreceding, -1)))
  }

  /** (id, out) by id, scanned inside a scope that must release every
    * cache the scan made.
    */
  private def scanned(df: DataFrame, order: Seq[Column],
                      kind: PrefixScan.Running): Seq[(Long, Option[Any])] =
    leavesNothingPersisted(Materialize.scope {
      PrefixScan(df, order, kind).rows.select("id", kind.as).collect()
    }).map(r => (r.getLong(0), Option(r.get(1)))).toSeq.sortBy(_._1)

  private def windowed(df: DataFrame, w: Column): Seq[(Long, Option[Any])] =
    df.select(col("id"), w).collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSeq.sortBy(_._1)

  /** Both formulations over `df`, with AQE's partition coalescing off
    * so the scan keeps every range partition the partitioner made
    * (coalesced, a small input is one partition).
    */
  private def check(df: DataFrame, shufflePartitions: Int = 8): Unit =
    withConf("spark.sql.shuffle.partitions" -> shufflePartitions.toString,
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val total = Seq(col("k"), col("id"))
      val key = Seq(col("k"))
      val cases = kinds(total).map((total, _)) ++ kinds(key).collect {
        case kw @ (_: PrefixScan.RunningSum | _: PrefixScan.DenseRank, _) => (key, kw)
      }
      cases.foreach { case (order, (kind, w)) =>
        assert(scanned(df, order, kind) == windowed(df, w), s"$kind over $order")
      }
    }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.get(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("empty input: every kind returns no rows") {
    check(input())
  }

  test("one row") {
    check(input((1L, Some(5L), 3L)))
  }

  test("one shared order key: one range partition, dense rank 1 everywhere") {
    val df = input((1L, Some(7L), 4L), (2L, Some(7L), 1L), (3L, Some(7L), 9L),
      (4L, Some(7L), 2L))
    check(df)
    assert(scanned(df, Seq(col("k")), PrefixScan.DenseRank("out"))
      .forall(_._2.contains(1L)))
    // a row rank under tied keys is the window's: some order of 1..n
    assert(scanned(df, Seq(col("k")), PrefixScan.RowRank("out"))
      .flatMap(_._2).sortBy(_.asInstanceOf[Long]) == Seq(1L, 2L, 3L, 4L))
  }

  test("more shuffle partitions than rows: most partitions are empty") {
    check(input((1L, Some(3L), 2L), (2L, Some(1L), 5L), (3L, Some(2L), 1L)),
      shufflePartitions = 16)
  }

  test("NULL order keys sort first, as in the window") {
    check(input((1L, None, 2L), (2L, Some(4L), 5L), (3L, None, 7L),
      (4L, Some(1L), 1L), (5L, Some(4L), 3L)))
  }

  test("many range partitions: ties and NULLs across partition boundaries") {
    val df = input((1L to 400L).map(i =>
      (i, if (i % 37 == 0) None else Some(i % 23), (i * 7919) % 101)): _*)
      .repartition(7)
    val parts = withConf("spark.sql.shuffle.partitions" -> "8",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      Materialize.scope {
        PrefixScan(df, Seq(col("k")), PrefixScan.DenseRank("out")).totals.count()
      }
    }
    assert(parts > 1, "the scan should span several range partitions")
    check(df)
  }
}
