package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, GraftShim, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import graft.api.EnergyApi
import graft.core.EnergyAnalytics
import graft.ml.{IsoForestScorer, ProphetScorer}
import graft.sources.SnapshotTable

/** The API endpoints over a snapshot table: plan shape by the read's
  * split count, and model broadcasts made once per SparkContext.
  */
class EnergyApiSpec extends SparkSpec {
  import spark.implicits._

  /** Readings-shaped rows for 4 homes over 40 days, with a NULL
    * consumption and a NULL appliance type in home H3.
    */
  private def readings(from: Int, to: Int): DataFrame = {
    val start = java.time.LocalDate.of(2023, 1, 1)
    (for {
      i <- from until to
      h = s"H${i % 4}"
      a = Seq("Fridge", "Heater", "Oven")(i % 3)
      date = start.plusDays((i / 4 % 40).toLong)
    } yield (h, if (i == 7) null else a,
      if (i == 11) None else Some(1.0 + i % 13 / 4.0),
      Seq("Winter", "Spring")(i / 97 % 2),
      f"${date.getDayOfMonth}%02d-${date.getMonthValue}%02d-2023", 2 + i % 3))
      .toDF("HomeID", "ApplianceType", "EnergyConsumption", "Season", "Date",
        "HouseholdSize")
  }

  private def table(batches: Seq[DataFrame]): String = {
    val t = Files.createTempDirectory("graft_api").toString + "/readings"
    batches.foreach(b => SnapshotTable.append(b.coalesce(1), t))
    t
  }

  /** The dashboard's four panels and an anomaly request. */
  private def requests(df: DataFrame): Seq[DataFrame] = Seq(
    EnergyAnalytics.kpis(df, "EnergyConsumption", "HouseholdSize"),
    EnergyAnalytics.topKCategories(df, "ApplianceType", "EnergyConsumption", 5),
    EnergyAnalytics.homeVsGlobalAvg(df, "H1"),
    EnergyAnalytics.sumBy(df, col("Season"), "Season", "EnergyConsumption"),
    EnergyApi.detectAnomalies(df, Some("H1"), Some("2023-01-05"), Some("2023-02-01")))

  private def exchanges(df: DataFrame): Int =
    GraftShim.physicalPlan(df).collect { case e: Exchange => e }.size

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("a one-split snapshot read plans the dashboard and anomaly " +
      "requests without an exchange; a multi-split one keeps them") {
    val one = table(Seq(readings(0, 640)))
    val two = table(Seq(readings(0, 320), readings(320, 640)))
    val (r1, r2) = (SnapshotTable.read(spark, one), SnapshotTable.read(spark, two))
    assert(r1.rdd.getNumPartitions == 1)
    assert(r2.rdd.getNumPartitions >= 2)
    // the lookup's HomeID filter still reaches the parquet scan
    val scan = GraftShim.physicalPlan(EnergyApi.getEnergyByHomeID(r1, "H2"))
      .collect { case s: FileSourceScanExec => s }
    assert(scan.size == 1 && scan.head.dataFilters.nonEmpty)
    requests(r1).zip(requests(r2)).foreach { case (q1, q2) =>
      assert(exchanges(q1) == 0, GraftShim.physicalPlan(q1).treeString)
      assert(exchanges(q2) > 0, GraftShim.physicalPlan(q2).treeString)
      // the same rows either way: every consumption is a multiple of
      // 1/4, so no sum depends on its order
      assert(q1.columns.toSeq == q2.columns.toSeq)
      assert(rows(q1) == rows(q2))
    }
  }

  test("homeVsGlobalAvg keeps the rows of the inner join of the home's " +
      "totals with the global averages") {
    val df = readings(0, 640)
    def join(home: String) = df.filter($"HomeID" === home)
      .groupBy("ApplianceType").agg(sum("EnergyConsumption").as("EnergyConsumption_Home"))
      .join(df.groupBy("ApplianceType").agg(avg("EnergyConsumption").as("EnergyConsumption_Avg")),
        Seq("ApplianceType"), "inner")
    Seq("H1", "H3", "nobody").foreach { h =>
      val got = EnergyAnalytics.homeVsGlobalAvg(df, h)
      assert(got.columns.toSeq == join(h).columns.toSeq)
      assert(rows(got) == rows(join(h)), h)
    }
  }

  /** Broadcasts created while `body` runs, counted by the ids of two
    * probe broadcasts around it (ids are sequential per context).
    */
  private def broadcastsMadeBy(body: => Unit): Long = {
    val sc = spark.sparkContext
    val before = sc.broadcast(0)
    body
    val after = sc.broadcast(0)
    before.destroy(); after.destroy()
    after.id - before.id - 1
  }

  test("scoreFeatures and forecast broadcast their models once per context") {
    val feats = Seq((1.0, 2.0, 1.5, 3.0), (9.0, 1.0, 0.5, 6.0))
      .toDF("total_kwh", "unique_appliances", "rolling_7_mean", "dow")
    val first = IsoForestScorer.scoreFeatures(feats).collect().toSeq
    assert(broadcastsMadeBy {
      IsoForestScorer.scoreFeatures(feats)
      IsoForestScorer.scoreFeatures(feats)
    } == 0)
    assert(IsoForestScorer.scoreFeatures(feats).collect().toSeq == first)
    // another model is another broadcast, made once
    assert(broadcastsMadeBy {
      IsoForestScorer.scoreFeatures(feats, model = IsoForestScorer.fixedEnsemble)
      IsoForestScorer.scoreFeatures(feats, model = IsoForestScorer.fixedEnsemble)
    } <= 1)

    val f9 = ProphetScorer.forecast(spark, 9).collect().toSeq
    assert(broadcastsMadeBy {
      ProphetScorer.forecast(spark, 9)
      ProphetScorer.forecast(spark, 9)
    } == 0)
    assert(ProphetScorer.forecast(spark, 9).collect().toSeq == f9)
    // the MC draws are keyed by horizon and seed
    assert(broadcastsMadeBy(ProphetScorer.forecast(spark, 9, seed = 7L)) == 1)
    assert(broadcastsMadeBy(ProphetScorer.forecast(spark, 11)) == 1)
    // the mean does not depend on the horizon; the band does
    assert(ProphetScorer.forecast(spark, 11).collect().take(9).map(_.get(1)).toSeq
      == f9.map(_.get(1)))
  }

  test("a new SparkContext gets new broadcasts and the same forecast rows") {
    // a JVM holds one SparkContext at a time: run two in sequence in a
    // child JVM, with this JVM's class path and module options
    import scala.jdk.CollectionConverters._
    val opts = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx512m",
      "-Dspark.ui.enabled=false") ++ opts ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.FreshContextBroadcasts")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
    assert(proc.waitFor() == 0, out.takeRight(30).mkString("\n"))
    assert(out.contains("broadcasts made per context: 3, 3"), out.takeRight(30).mkString("\n"))
    assert(out.contains("contexts held after stop: 0, 0"), out.takeRight(30).mkString("\n"))
    assert(out.contains("same rows: true"), out.takeRight(30).mkString("\n"))
  }
}

/** Child-JVM half of [[EnergyApiSpec]]'s new-context test: in each of
  * two SparkContexts made one after the other, counts the broadcasts
  * that two forecast and two scoring calls make, and collects a
  * forecast.
  */
object FreshContextBroadcasts {
  def main(args: Array[String]): Unit = {
    def inContext(): (Long, Int, Seq[Row]) = {
      val spark = SparkSession.builder().master("local[1]").getOrCreate()
      val sc = spark.sparkContext
      import spark.implicits._
      val feats = Seq((1.0, 2.0, 1.5, 3.0))
        .toDF("total_kwh", "unique_appliances", "rolling_7_mean", "dow")
      val before = sc.broadcast(0)
      (1 to 2).foreach { _ =>
        ProphetScorer.forecast(spark, 7)
        IsoForestScorer.scoreFeatures(feats)
      }
      val after = sc.broadcast(0)
      val rows = ProphetScorer.forecast(spark, 7).collect().toSeq ++
        IsoForestScorer.scoreFeatures(feats).collect().toSeq
      spark.stop()
      (after.id - before.id - 1, graft.ml.ContextBroadcast.contexts, rows)
    }
    val (made1, held1, rows1) = inContext()
    val (made2, held2, rows2) = inContext()
    println(s"broadcasts made per context: $made1, $made2")
    println(s"contexts held after stop: $held1, $held2")
    println(s"same rows: ${rows1 == rows2}")
  }
}
