package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Partition pruning and bucketed-join plans — asserted at the plan
  * level, not just row counts.
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  /** Writes `df` partitioned by `part`, checks one dir per expected
    * value, and that a filter on `value` prunes at the scan with no
    * rows lost.
    */
  private def assertPrunes(df: org.apache.spark.sql.DataFrame, part: String,
                           values: Seq[String], value: String): Unit = {
    val dir = Files.createTempDirectory("graft_layout").toString + "/t"
    df.write.mode("overwrite").partitionBy(part).parquet(dir)
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted.toSeq
    assert(dirs == values.map(v => s"$part=$v"))
    val q = spark.read.parquet(dir).filter(col(part) === value)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains(s"$part=$value") || plan.contains(s"isnotnull($part"),
      plan)
    assert(q.count() == df.filter(col(part) === value).count())
  }

  test("partitionBy: filters on the partition column prune at the scan") {
    val (readings, _) = graft.core.EnergyIngest.ingest(spark, RefCsv)
    assertPrunes(readings, "Season", Seq("Spring", "Winter"), "Spring")
  }

  test("partitionBy on the events table: pruned read keeps every row") {
    assertPrunes(Tables.events(spark, Sf0001), "event_type",
      Seq("click", "error", "purchase", "signup", "view"), "purchase")
  }

  test("q181 star join: dims broadcast, facts meet on one shuffled key") {
    val df = SparkEntry.queries("q181_local_supplier_volume")(
      spark, Sf0001)
    df.write.format("noop").mode("overwrite").save() // let AQE finalize
    val plan = df.queryExecution.executedPlan.toString
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(nBroadcast >= 3,
      s"supplier/nation/region (and post-filter orders under AQE) " +
        s"should broadcast, got $nBroadcast:\n$plan")
    val nSmj = "SortMergeJoin".r.findAllIn(plan).length
    assert(nBroadcast + nSmj == 5, s"six tables, five joins:\n$plan")
  }

  test("bucketBy: same-bucketed join on the bucket key plans with no shuffle") {
    spark.sql("DROP TABLE IF EXISTS ev_bucketed_a")
    spark.sql("DROP TABLE IF EXISTS ev_bucketed_b")
    val ev = Tables.events(spark, Sf0001).select("event_id", "user_id", "value")
    def writeBucketed(df: org.apache.spark.sql.DataFrame, table: String): Unit =
      df.write.mode("overwrite").bucketBy(8, "user_id").sortBy("user_id")
        .format("parquet").saveAsTable(table)
    writeBucketed(ev, "ev_bucketed_a")
    writeBucketed(ev.groupBy("user_id").agg(sum("value").as("total")),
      "ev_bucketed_b")
    // merge hint: without it the tiny side would broadcast and hide
    // the property under test (bucketing removes the SHUFFLE, so we
    // assert no hash-partitioning exchange in the sort-merge plan)
    val joined = spark.table("ev_bucketed_a")
      .join(spark.table("ev_bucketed_b").hint("merge"), "user_id")
    assert(joined.count() == ev.count())
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n$plan")
  }
}
