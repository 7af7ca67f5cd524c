package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable

/** The DSv2 connector (`spark.read.format("graft-snapshot")`) must
  * behave exactly like the programmatic `SnapshotTable.read`, while
  * pushing planner work into the format: manifest file pruning from
  * pushed predicates, column pruning, parquet row-group pushdown, and
  * footer aggregate pushdown.
  */
class SnapshotDsv2Spec extends SparkSpec {
  import spark.implicits._

  private def newTable(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  /** The ParquetScan Catalyst planned for `df` (post filter/column
    * pushdown, pre physical planning — AQE-independent).
    */
  private def scanOf(df: DataFrame): ParquetScan =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.scan
    }.get.asInstanceOf[graft.sources.v2.SnapshotScan].inner

  private def scannedFiles(df: DataFrame): Int = scanOf(df).fileIndex.inputFiles.length

  test("format round-trips the table and time travel matches read()") {
    val t = newTable("dsv2_rt")
    SnapshotTable.append(Seq((1, "a", 10.0), (2, "b", 20.0)).toDF("id", "v", "x"), t)
    SnapshotTable.append(Seq((3, "c", 30.0)).toDF("id", "v", "x"), t)

    val viaFormat = spark.read.format("graft-snapshot").load(t)
    assert(viaFormat.as[(Int, String, Double)].collect().toSet ==
      SnapshotTable.read(spark, t).as[(Int, String, Double)].collect().toSet)

    val v0 = spark.read.format("graft-snapshot").option("version", "0").load(t)
    assert(v0.as[(Int, String, Double)].collect().toSet == Set((1, "a", 10.0), (2, "b", 20.0)))
  }

  test("pushed range predicate prunes manifest files before the scan") {
    val t = newTable("dsv2_prune")
    // three commits with disjoint id ranges -> three files with
    // disjoint footer stats
    SnapshotTable.append((1 to 100).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1), t)
    SnapshotTable.append((101 to 200).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1), t)
    SnapshotTable.append((201 to 300).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1), t)

    val all = spark.read.format("graft-snapshot").load(t)
    assert(scannedFiles(all) == 3)

    val point = all.filter($"id" === 150)
    assert(scannedFiles(point) == 1, "point query must open exactly the matching file")
    assert(point.as[(Int, String)].collect().toSeq == Seq((150, "v150")))

    val range = all.filter($"id" >= 120 && $"id" < 220)
    assert(scannedFiles(range) == 2)
    assert(range.count() == 100)

    // all-pruned: metadata-only empty result, schema intact
    val none = all.filter($"id" > 1000)
    assert(scannedFiles(none) == 0)
    assert(none.collect().isEmpty && none.schema.fieldNames.toSeq == Seq("id", "v"))

    // predicates our translator cannot turn into ranges stay correct
    // (kept as residual; every file scanned)
    val odd = all.filter($"id" % 100 === 50)
    assert(scannedFiles(odd) == 3)
    assert(odd.as[(Int, String)].collect().map(_._1).toSet == Set(50, 150, 250))
  }

  test("string-key pruning and IN-list envelope") {
    val t = newTable("dsv2_str")
    SnapshotTable.append(Seq(("alpha", 1), ("beta", 2)).toDF("k", "n").coalesce(1), t)
    SnapshotTable.append(Seq(("mike", 3), ("november", 4)).toDF("k", "n").coalesce(1), t)
    SnapshotTable.append(Seq(("x-ray", 5), ("zulu", 6)).toDF("k", "n").coalesce(1), t)

    val all = spark.read.format("graft-snapshot").load(t)
    assert(scannedFiles(all.filter($"k" === "mike")) == 1)
    assert(scannedFiles(all.filter($"k".isin("alpha", "beta"))) == 1)
    assert(all.filter($"k".isin("alpha", "zulu")).count() == 2) // envelope spans files, still correct

    // 64-bit keys above 2^53 collapse as doubles: the envelope of
    // (2^53+1, 2^53) must still reach the file holding 2^53
    val big = newTable("dsv2_big")
    val p53 = 1L << 53
    SnapshotTable.append(Seq((p53, 1)).toDF("k", "n").coalesce(1), big)
    SnapshotTable.append(Seq((p53 + 5, 2)).toDF("k", "n").coalesce(1), big)
    val bigAll = spark.read.format("graft-snapshot").load(big)
    assert(bigAll.filter($"k".isin(p53 + 1, p53)).as[(Long, Int)].collect().toSeq
      == Seq((p53, 1)))
    SnapshotTable.delete(spark, big, $"k".isin(p53 + 1, p53))
    assert(SnapshotTable.read(spark, big).as[(Long, Int)].collect().toSeq
      == Seq((p53 + 5, 2)), "delete must remove the row keyed 2^53")
  }

  test("a column-mapped table is rejected, never read with physical names") {
    val t = newTable("dsv2_renamed")
    SnapshotTable.append(Seq((1, 10.0)).toDF("id", "amount"), t)  // v0
    SnapshotTable.renameColumn(t, "amount", "price")              // v1
    assert(SnapshotTable.read(spark, t).columns.toSeq == Seq("id", "price"))
    val e = intercept[IllegalArgumentException](
      spark.read.format("graft-snapshot").load(t).collect())
    assert(e.getMessage.contains("column-mapped"), e.getMessage)
    // the pre-rename version has no mapping and still reads
    val v0 = spark.read.format("graft-snapshot").option("version", "0").load(t)
    assert(v0.columns.toSeq == Seq("id", "amount") && v0.count() == 1)
  }

  test("timestamp predicates prune on micros footer stats") {
    val t = newTable("dsv2_ts")
    def day(d: String) = java.sql.Timestamp.valueOf(d + " 00:00:00")
    SnapshotTable.append(Seq((1, day("2024-01-01")), (2, day("2024-01-31")))
      .toDF("id", "ts").coalesce(1), t)
    SnapshotTable.append(Seq((3, day("2024-02-01")), (4, day("2024-02-28")))
      .toDF("id", "ts").coalesce(1), t)
    SnapshotTable.append(Seq((5, day("2024-03-01")), (6, day("2024-03-31")))
      .toDF("id", "ts").coalesce(1), t)

    val all = spark.read.format("graft-snapshot").load(t)
    val feb = all.filter($"ts" >= lit("2024-02-01") && $"ts" < lit("2024-03-01"))
    assert(scannedFiles(feb) == 1, "month query must open only February's file")
    assert(feb.select($"id").as[Int].collect().toSet == Set(3, 4))

    // a TIMESTAMP nested in a struct is written as INT64 micros too:
    // only then does the footer carry stats for it (INT96 has none)
    val nested = newTable("dsv2_ts_nested")
    Seq(("2024-01-01", "2024-01-31"), ("2024-02-01", "2024-02-28"),
        ("2024-03-01", "2024-03-31")).zipWithIndex.foreach { case ((lo, hi), i) =>
      SnapshotTable.append(Seq((2 * i + 1, day(lo)), (2 * i + 2, day(hi)))
        .toDF("id", "ts").select($"id", struct($"ts").as("s")).coalesce(1), nested)
    }
    def micros(d: String) = day(d).getTime * 1000L
    val febRange = SnapshotTable.ColRange("s.ts",
      Some(micros("2024-02-01")), Some(micros("2024-02-29")))
    assert(SnapshotTable.filesForRead(nested, prune = Seq(febRange)).size == 1,
      "nested micros footer stats must prune to February's file")
    assert(spark.read.format("graft-snapshot").load(nested)
      .filter($"s.ts" >= lit("2024-02-01") && $"s.ts" < lit("2024-03-01"))
      .select($"id").as[Int].collect().toSet == Set(3, 4))
  }

  test("an unversioned DataFrame keeps reading the version it was loaded at") {
    val t = newTable("dsv2_pin")
    SnapshotTable.append(Seq((1, "a")).toDF("id", "v"), t)
    val loaded = spark.read.format("graft-snapshot").load(t)
    SnapshotTable.append(Seq((2, "b")).toDF("id", "v"), t)
    assert(loaded.as[(Int, String)].collect().toSet == Set((1, "a")))
    // a fresh load resolves the new latest
    assert(spark.read.format("graft-snapshot").load(t).count() == 2)
  }

  test("column pruning and parquet row-group pushdown reach the inner scan") {
    val t = newTable("dsv2_cols")
    SnapshotTable.append((1 to 50).map(i => (i, s"v$i", i * 1.5)).toDF("id", "v", "x"), t)

    val q = spark.read.format("graft-snapshot").load(t).filter($"id" > 10).select($"v")
    val scan = scanOf(q)
    assert(scan.readDataSchema.fieldNames.toSet == Set("id", "v"),
      "read schema must shrink to filter+projection columns")
    assert(scan.pushedFilters.map(_.toString).exists(_.contains("id")),
      "data filter must reach the parquet scan for row-group skipping")
    assert(q.as[String].collect().length == 40)
  }

  test("footer aggregate pushdown answers MIN/MAX/COUNT from metadata") {
    val t = newTable("dsv2_agg")
    SnapshotTable.append((1 to 1000).map(i => (i, i * 2L)).toDF("id", "n"), t)

    // opt-in conf, same as stock parquet (the connector only delegates)
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try {
      val agg = spark.read.format("graft-snapshot").load(t)
        .agg(count(lit(1)).as("c"), min($"id").as("mn"), max($"n").as("mx"))
      val pushed = agg.queryExecution.optimizedPlan.collectFirst {
        case r: DataSourceV2ScanRelation =>
          r.scan.asInstanceOf[graft.sources.v2.SnapshotScan].inner.pushedAggregate
      }.get
      assert(pushed.isDefined, "COUNT/MIN/MAX should push into the parquet footers")
      assert(agg.as[(Long, Int, Long)].collect().head == ((1000L, 1, 2000L)))
    } finally spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
  }

  test("write path: save modes map onto snapshot commits") {
    val t = newTable("dsv2_write")
    // DSv2 sources only take explicit append/overwrite; the default
    // ErrorIfExists is rejected up-front by Spark (never a silent write)
    intercept[Exception] {
      Seq((9, "x")).toDF("id", "v").write.format("graft-snapshot").save(t)
    }
    assert(SnapshotTable.currentVersion(t).isEmpty, "rejected mode must not commit")

    Seq((1, "a"), (2, "b")).toDF("id", "v")
      .write.format("graft-snapshot").mode("append").save(t)
    assert(SnapshotTable.currentVersion(t).contains(0))

    Seq((3, "c")).toDF("id", "v")
      .write.format("graft-snapshot").mode("append").save(t)
    assert(SnapshotTable.currentVersion(t).contains(1))
    assert(spark.read.format("graft-snapshot").load(t).count() == 3)

    Seq((9, "z")).toDF("id", "v")
      .write.format("graft-snapshot").mode("overwrite").save(t)
    assert(spark.read.format("graft-snapshot").load(t)
      .as[(Int, String)].collect().toSeq == Seq((9, "z")))
    // overwrite committed a new version: time travel still sees v1
    assert(spark.read.format("graft-snapshot").option("version", "1").load(t)
      .count() == 3)
  }

  test("schema evolution: files written before a column read it as null") {
    val t = newTable("dsv2_evo")
    SnapshotTable.append(Seq((1, "a")).toDF("id", "v"), t)
    SnapshotTable.append(Seq((2, "b", 9.9)).toDF("id", "v", "x"), t)

    val rows = spark.read.format("graft-snapshot").load(t)
      .as[(Int, String, Option[Double])].collect().toSet
    assert(rows == Set((1, "a", None), (2, "b", Some(9.9))))
  }

  test("pushed equality/IN probes consult manifest blooms: SQL point " +
      "lookups skip files min/max cannot, conservatively") {
    val t = newTable("dsv2_bloom")
    // key k lands in file k % 4: every file's [min,max] spans the
    // whole range, range pruning keeps everything
    val df = (0L until 2000L).map(i => (i, s"p-$i")).toDF("k", "payload")
      .repartitionByRange(4, pmod(col("k"), lit(4)))
    SnapshotTable.appendBloomIndexed(df, t, Seq("k"),
      bloomBits = 8192, bloomK = 4)
    val all = spark.read.format("graft-snapshot").load(t)
    val total = scannedFiles(all)
    assert(total >= 3, s"expected multiple spanning files, got $total")

    val eq = all.filter(col("k") === 1001L)
    assert(scannedFiles(eq) < total, "k = v must bloom-skip files")
    assert(eq.select("payload").as[String].collect().toSeq == Seq("p-1001"))

    val in = all.filter(col("k").isin(7L, 1001L))
    assert(scannedFiles(in) < total, "k IN (...) must bloom-skip files")
    assert(in.select("payload").as[String].collect().toSet ==
      Set("p-7", "p-1001"))

    // absent key: every file skipped, empty result, schema intact
    val none = all.filter(col("k") === 555555L)
    assert(scannedFiles(none) == 0)
    assert(none.count() == 0L)

    // a cast-wrapped column (string-typed comparison) must NOT probe —
    // conservative: same files as range pruning alone
    val casted = all.filter(col("k").cast("string") === "1001")
    assert(casted.count() == 1L)
  }
}
