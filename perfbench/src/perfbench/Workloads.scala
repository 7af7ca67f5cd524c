package perfbench

import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.api.EnergyApi
import graft.core.{EnergyAnalytics, EnergyIngest}
import graft.sources.SnapshotTable

/** Appends raw CSV batches to one snapshot table through the public
  * ingest path, follows each with a read-after-write lookup, and
  * compacts every `compactEvery` appends. Every output is checked
  * against the generator's running tallies.
  */
final class IngestLoop(h: Harness, table: String, t: Tallies, rng: java.util.Random,
                       compactEvery: Int) {
  private val spark = h.spark
  private val sums = new Running
  private var appended = 0
  private var version = -1
  var rejectRatio = Double.NaN

  /** `compactEvery` appends, each followed by its fresh read, then one
    * compaction: the loop's unit, so every run measures the same mix.
    */
  def cycle(): Unit = {
    (1 to compactEvery).foreach(_ => step())
    compact()
  }

  def step(): Unit = {
    val b = t.batches(appended % t.batches.size)
    appended += 1
    val before = if (h.traceMode) Harness.dirBytes(table) else 0L
    h.measure("append") {
      val (valid, _) = h.layer("EnergyIngest.ingest") {
        EnergyIngest.ingest(spark, s"${t.dir}/${b.file}")
      }
      h.layer("SnapshotTable.append")(SnapshotTable.append(valid, table))
    } { (op, v) =>
      sums.add(b)
      op.expect(v == version + 1, s"append committed v$v after v$version")
      version = v
      op.values("raw_rows") = b.rows.toDouble
      op.values("raw_bytes") = b.bytes.toDouble
      if (h.traceMode) op.values("bytes_written") = (Harness.dirBytes(table) - before).toDouble
    }
    val homes = b.home.keys.toIndexedSeq.sorted
    val home = homes(rng.nextInt(homes.size))
    h.measure("fresh_read") {
      val df = h.layer("SnapshotTable.read")(SnapshotTable.read(spark, table))
      val q = h.layer("EnergyApi.getEnergyByHomeID")(EnergyApi.getEnergyByHomeID(df, home))
      h.plan(q)
      (q, h.layer("collect")(q.collect()))
    } { case (op, (q, rows)) =>
      Requests.checkHomeRows(op, rows, home, sums.home(home))
      if (op.traced) {
        op.values("input_files") = q.inputFiles.length.toDouble
        op.values("files_live") = SnapshotTable.filePathsForRead(table).size.toDouble
      }
    }
  }

  def compact(): Unit = {
    val before = if (h.traceMode) SnapshotTable.sizedFilesForRead(table).toMap else Map.empty[String, Long]
    h.measure("compact", traced = Some(true)) {
      h.layer("SnapshotTable.compact")(SnapshotTable.compact(spark, table))
    } { (op, v) =>
      v.foreach(x => version = x)
      val rows = SnapshotTable.read(spark, table).count()
      op.expect(rows == sums.valid, s"table holds $rows rows, ${sums.valid} valid rows ingested")
      rejectRatio = (sums.rows - rows).toDouble / sums.rows
      if (h.traceMode) {
        val after = SnapshotTable.sizedFilesForRead(table).map(_._1).toSet
        op.values("bytes_rewritten") = before.filter(e => !after(e._1)).values.sum.toDouble
      }
    }
  }

  def expectedRejectRatio: Double = (sums.rows - sums.valid).toDouble / sums.rows
}

/** The four endpoint classes of the read-only API mix. */
final class Requests(h: Harness, table: String, sums: Running, rng: java.util.Random) {
  private val spark = h.spark
  private val homes = sums.home.keys.toIndexedSeq.sorted

  private def read(): DataFrame = h.layer("SnapshotTable.read")(SnapshotTable.read(spark, table))

  private def run(dfs: Seq[DataFrame]): Seq[Array[Row]] = {
    h.plan(dfs: _*)
    h.layer("collect")(dfs.map(_.collect()))
  }

  def lookup(): Unit = {
    val home = homes(rng.nextInt(homes.size))
    h.measure("lookup") {
      val df = read()
      val q = h.layer("build")(EnergyApi.getEnergyByHomeID(df, home))
      run(Seq(q)).head
    } { (op, rows) => Requests.checkHomeRows(op, rows, home, sums.home(home)) }
  }

  def dashboard(): Unit = {
    val home = homes(rng.nextInt(homes.size))
    h.measure("dashboard") {
      val df = read()
      val qs = h.layer("build")(Seq(
        EnergyAnalytics.kpis(df, "EnergyConsumption", "HouseholdSize"),
        EnergyAnalytics.topKCategories(df, "ApplianceType", "EnergyConsumption", 5),
        EnergyAnalytics.homeVsGlobalAvg(df, home),
        EnergyAnalytics.sumBy(df, col("Season"), "Season", "EnergyConsumption")))
      run(qs)
    } { (op, res) =>
      val Seq(kpis, top, vs, seasonal) = res
      val k = kpis.head
      op.expect(k.getAs[Long]("n_records") == sums.valid, s"kpis n_records ${k.getAs[Long]("n_records")}")
      op.expect(Check.centi(k.getAs[Double]("total_consumption")) == sums.centi, "kpis total")
      val want = sums.appliance.toSeq.sortBy { case (a, (_, c)) => (-c, a) }.take(5)
      op.expect(top.map(_.getString(0)).toSeq == want.map(_._1), "top-5 appliances")
      op.expect(top.map(r => Check.centi(r.getDouble(1))).toSeq == want.map(_._2._2), "top-5 totals")
      op.expect(Check.centi(vs.map(_.getAs[Double]("EnergyConsumption_Home")).sum) == sums.home(home)._2,
        s"home $home vs global: home total")
      vs.foreach { r =>
        val (n, c) = sums.appliance(r.getAs[String]("ApplianceType"))
        op.expect(Check.close(r.getAs[Double]("EnergyConsumption_Avg"), c / 100.0 / n), "global average")
      }
      op.expect(seasonal.map(r => r.getString(0) -> Check.centi(r.getDouble(1))).toMap ==
        sums.season.map { case (s, (_, c)) => s -> c }.toMap, "seasonal sums")
    }
  }

  def anomaly(): Unit = {
    val home = homes(rng.nextInt(homes.size))
    val m1 = 1 + rng.nextInt(6)
    val m2 = math.min(6, m1 + rng.nextInt(3))
    val start = LocalDate.of(2023, m1, 1)
    val end = LocalDate.of(2023, m2, 1).plusMonths(1).minusDays(1)
    h.measure("anomaly") {
      val df = read()
      val q = h.layer("build")(EnergyApi.detectAnomalies(df, Some(home),
        Some(start.toString), Some(end.toString)))
      run(Seq(q)).head
    } { (op, rows) =>
      val days = rows.map(_.getAs[java.sql.Date]("Date").toLocalDate).sorted
      val want = (m1 to m2).map(m => sums.homeMonth(s"$home|$m")._2).sum
      op.expect(rows.forall(_.getAs[String]("HomeID") == home), "anomaly rows of another home")
      op.expect(Check.centi(rows.map(_.getAs[Double]("total_kwh")).sum) == want, "anomaly kWh total")
      if (days.nonEmpty) {
        op.expect(!days.head.isBefore(start) && !days.last.isAfter(end), "anomaly dates out of range")
        op.expect(days.distinct.length == days.length &&
          days.head.plusDays(days.length - 1L) == days.last, "anomaly series is not one row per day")
        val first = rows.minBy(_.getAs[java.sql.Date]("Date").toLocalDate.toEpochDay)
        op.expect(Check.close(first.getAs[Double]("rolling_7_mean"), first.getAs[Double]("total_kwh")),
          "first rolling mean differs from the day's total")
      } else op.expect(want == 0, "anomaly returned no rows")
    }
  }

  def forecast(): Unit =
    h.measure("forecast") {
      val q = h.layer("build")(EnergyApi.forecast(spark, 7))
      run(Seq(q)).head
    } { (op, rows) =>
      val ds = rows.map(_.getAs[java.sql.Date]("ds").toLocalDate.toEpochDay).sorted
      op.expect(rows.length == 7, s"forecast returned ${rows.length} rows")
      op.expect(ds.sliding(2).forall(p => p.length < 2 || p(1) - p(0) == 1L), "forecast days")
      op.expect(rows.forall(r => r.getAs[Double]("yhat_lower") <= r.getAs[Double]("yhat") &&
        r.getAs[Double]("yhat") <= r.getAs[Double]("yhat_upper")), "forecast interval")
    }
}

object Requests {
  def checkHomeRows(op: Op, rows: Array[Row], home: String, want: (Long, Long)): Unit = {
    op.values("rows_returned") = rows.length.toDouble
    op.expect(rows.forall(_.getAs[String]("HomeID") == home), s"rows of another home in lookup $home")
    op.expect(rows.length == want._1, s"home $home: ${rows.length} rows, want ${want._1}")
    op.expect(Check.centi(rows.map(_.getAs[Double]("EnergyConsumption")).sum) == want._2,
      s"home $home: kWh total differs")
  }

  /** 16 lookups, 14 dashboards, 6 anomaly scans and 4 forecasts in every
    * block of 40, shuffled by the seed: the 40/35/15/10 mix with at least
    * four samples of the rarest class per block.
    */
  val Block: Seq[String] =
    Seq.fill(16)("lookup") ++ Seq.fill(14)("dashboard") ++ Seq.fill(6)("anomaly") ++ Seq.fill(4)("forecast")
}

object Workloads {
  val CompactEvery = 8
  val CurationQueries = Seq("q302_exact_substr_dedup", "q73_curation_full",
    "q101_bm25_retrieval", "q19_ngram_jaccard")

  /** Ingest: warm up on a scratch table, then measure on a fresh one. */
  def ingest(h: Harness, input: String, work: String, seed: Long, seconds: Double,
             setup: mutable.Map[String, Any]): Map[String, Any] = {
    val t = Tallies.load(input)
    val rng = new java.util.Random(seed)
    val warm = new IngestLoop(h, s"$work/warm_table", t, rng, CompactEvery)
    val w0 = System.nanoTime()
    warm.cycle()
    setup("warmup_s") = (System.nanoTime() - w0) / 1e9
    val table = s"$work/table"
    val run = new IngestLoop(h, table, t, rng, CompactEvery)
    h.loop(seconds)(run.cycle())
    Map("files_live" -> SnapshotTable.filePathsForRead(table).size,
      "manifest_bytes" -> Harness.dirBytes(s"$table/_manifests"),
      "reject_ratio" -> run.rejectRatio,
      "expected_reject_ratio" -> run.expectedRejectRatio)
  }

  /** API: ingest and compact the readings table, warm up with two
    * requests of each class, then serve whole blocks of the mix.
    */
  def api(h: Harness, input: String, work: String, seed: Long, seconds: Double,
          setup: mutable.Map[String, Any]): Map[String, Any] = {
    val t = Tallies.load(input)
    val table = s"$work/readings"
    val p0 = System.nanoTime()
    val sums = new Running
    t.batches.foreach { b =>
      SnapshotTable.append(EnergyIngest.ingest(h.spark, s"${t.dir}/${b.file}")._1, table)
      sums.add(b)
    }
    SnapshotTable.compact(h.spark, table)
    val rows = SnapshotTable.read(h.spark, table).count()
    require(rows == sums.valid, s"readings table holds $rows rows, want ${sums.valid}")
    setup("prepare_s") = (System.nanoTime() - p0) / 1e9
    val rng = new java.util.Random(seed)
    val req = new Requests(h, table, sums, rng)
    def block(): Seq[String] = {
      val b = new java.util.ArrayList[String](Requests.Block.asJava)
      java.util.Collections.shuffle(b, rng)
      b.asScala.toSeq
    }
    def serve(cls: String): Unit = cls match {
      case "lookup" => req.lookup()
      case "dashboard" => req.dashboard()
      case "anomaly" => req.anomaly()
      case "forecast" => req.forecast()
    }
    val w0 = System.nanoTime()
    (1 to 2).foreach(_ => Seq("lookup", "dashboard", "anomaly", "forecast").foreach(serve))
    setup("warmup_s") = (System.nanoTime() - w0) / 1e9
    h.loop(seconds)(block().foreach(serve))
    Map("rows" -> t.batches.map(_.rows).sum, "valid_rows" -> sums.valid,
      "files_live" -> SnapshotTable.filePathsForRead(table).size)
  }

  /** Curation: one warm pass that writes each query's output for the
    * oracle check, then whole passes with the `noop` sink.
    */
  def curation(h: Harness, input: String, work: String, seconds: Double,
               setup: mutable.Map[String, Any]): Map[String, Any] = {
    val sc = h.spark.sparkContext
    val w0 = System.nanoTime()
    CurationQueries.foreach { q =>
      h.measure(q)(SparkEntry.queries(q)(h.spark, input)
        .write.mode("overwrite").parquet(s"$work/out/$q"))((_, _) => ())
    }
    setup("warmup_s") = (System.nanoTime() - w0) / 1e9
    val passes = mutable.ArrayBuffer[Double]()
    h.loop(seconds) {
      val pass = CurationQueries.map { q =>
        h.measure(q) {
          val before = sc.getPersistentRDDs.size
          val df = h.layer("build")(SparkEntry.queries(q)(h.spark, input))
          h.plan(df)
          h.layer("exec")(df.write.format("noop").mode("overwrite").save())
          before
        } { (op, before) => op.values("persisted_rdds_left") = (sc.getPersistentRDDs.size - before).toDouble }
      }
      passes += pass.map(_.ms).sum / 1000.0
    }
    Map("pass_s" -> passes.toSeq,
      "outputs" -> CurationQueries.map(q => q -> s"$work/out/$q").toMap,
      "oracle_sql" -> CurationQueries.map(q => q -> SparkEntry.oracleSql(q)).toMap)
  }
}
