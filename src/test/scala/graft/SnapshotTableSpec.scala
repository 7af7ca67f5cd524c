package graft

import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import graft.core.EnergyIngest
import graft.sources.SnapshotTable

class SnapshotTableSpec extends SparkSpec {
  import spark.implicits._

  test("append/overwrite versions, time travel, snapshot isolation") {
    val t = Files.createTempDirectory("graft_snap").toString + "/t"
    val v0 = SnapshotTable.append(Seq((1, "a"), (2, "b")).toDF("id", "v"), t)
    val v1 = SnapshotTable.append(Seq((3, "c")).toDF("id", "v"), t)
    assert(v0 == 0 && v1 == 1)
    assert(SnapshotTable.read(spark, t).count() == 3)
    // a reader holding version 0 still sees exactly the old snapshot
    assert(SnapshotTable.read(spark, t, Some(0)).as[(Int, String)]
      .collect().toSet == Set((1, "a"), (2, "b")))

    val v2 = SnapshotTable.overwrite(Seq((9, "z")).toDF("id", "v"), t)
    assert(v2 == 2)
    assert(SnapshotTable.read(spark, t).as[(Int, String)].collect().toSet == Set((9, "z")))
    // time travel across all three versions
    assert(SnapshotTable.read(spark, t, Some(1)).count() == 3)
    assert(SnapshotTable.read(spark, t, Some(0)).count() == 2)
  }

  test("a manifest still carrying committedAtMs reads and takes the next append") {
    val t = Files.createTempDirectory("graft_snap_cat").toString + "/t"
    SnapshotTable.append(Seq((1, "a")).toDF("id", "v"), t)
    // tables committed before the field was dropped still carry it
    val v0 = java.nio.file.Paths.get(t, "_manifests", "v0.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(Files.readString(v0))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    assert(!root.has("committedAtMs"), "new commits no longer write it")
    root.put("committedAtMs", 1700000000000L)
    Files.writeString(v0, mapper.writeValueAsString(root))
    assert(SnapshotTable.read(spark, t).as[(Int, String)].collect().toSet ==
      Set((1, "a")))
    assert(SnapshotTable.append(Seq((2, "b")).toDF("id", "v"), t) == 1)
    assert(SnapshotTable.read(spark, t).as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "b")))
  }

  test("keyed upsert merges per snapshot; vacuum drops old versions") {
    val t = Files.createTempDirectory("graft_snap2").toString + "/t"
    SnapshotTable.append(Seq((1, "a"), (2, "b")).toDF("id", "v"), t)
    leavesNothingPersisted(SnapshotTable.upsert(spark,
      Seq((2, "B"), (3, "c"), (3, "c2")).toDF("id", "v"), t, "id"))
    val now = SnapshotTable.read(spark, t).as[(Int, String)].collect().toMap
    assert(now.keySet == Set(1, 2, 3))
    assert(now(2) == "B")
    // re-running the applied update leaves the same rows
    SnapshotTable.upsert(spark, Seq((2, "B"), (3, now(3))).toDF("id", "v"), t, "id")
    assert(SnapshotTable.read(spark, t).as[(Int, String)].collect().toMap == now)
    // pre-upsert snapshot still intact
    assert(SnapshotTable.read(spark, t, Some(0)).as[(Int, String)]
      .collect().toMap == Map(1 -> "a", 2 -> "b"))

    SnapshotTable.vacuum(t, keepVersions = 1)
    // latest still reads fine; old version is gone
    assert(SnapshotTable.read(spark, t).count() == 3)
    val err = intercept[IllegalArgumentException](
      SnapshotTable.read(spark, t, Some(0)).count())
    assert(err.getMessage.contains("vacuumed"), err.getMessage)
    // vacuuming again with a wider keep window must not trip over the
    // manifests the first vacuum already deleted
    SnapshotTable.vacuum(t, keepVersions = 10)
    assert(SnapshotTable.read(spark, t).count() == 3)
  }

  test("manifest min/max stats prune files a filtered read never opens") {
    val t = Files.createTempDirectory("graft_snap3").toString + "/t"
    // three commits -> three disjoint id ranges in separate files
    SnapshotTable.append(
      spark.range(0, 100).selectExpr("id", "concat('lo_', id) AS v").coalesce(1), t)
    SnapshotTable.append(
      spark.range(100, 200).selectExpr("id", "concat('mid_', id) AS v").coalesce(1), t)
    SnapshotTable.append(
      spark.range(200, 300).selectExpr("id", "concat('hi_', id) AS v").coalesce(1), t)
    val all = SnapshotTable.filesForRead(t)
    assert(all.size == 3)
    // point-range predicate on id: only the middle file may survive
    val pr = Seq(SnapshotTable.ColRange("id", lower = Some(150L), upper = Some(160L)))
    val pruned = SnapshotTable.filesForRead(t, prune = pr)
    assert(pruned.size == 1, s"expected 1 file, got $pruned")
    assert(pruned.size < all.size)
    // the pruned read still returns exactly the right rows
    val rows = SnapshotTable.read(spark, t, prune = pr)
      .filter($"id".between(150, 160)).count()
    assert(rows == 11)
    // string column stats prune too
    val sPr = Seq(SnapshotTable.ColRange("v", lower = Some("lo_"), upper = Some("lo_~")))
    assert(SnapshotTable.filesForRead(t, prune = sPr).size == 1)
    // a column with no recorded stats never skips
    val unknown = Seq(SnapshotTable.ColRange("nope", lower = Some(1L)))
    assert(SnapshotTable.filesForRead(t, prune = unknown).size == 3)
  }

  test("commit publish is put-if-absent: racing manifests never clobber") {
    val t = Files.createTempDirectory("graft_snap4").toString + "/t"
    SnapshotTable.append(Seq((1, "a")).toDF("id", "v"), t)
    // simulate a concurrent writer that claimed v1 between our
    // currentVersion read and publish: pre-create v1.json manually
    val winner = java.nio.file.Paths.get(t, "_manifests", "v1.json")
    java.nio.file.Files.writeString(winner,
      """{"version": 1, "files": []}""")
    // append must NOT clobber v1 — it retries and lands on v2
    val v = SnapshotTable.append(Seq((2, "b")).toDF("id", "v"), t)
    assert(v == 2, s"append should have skipped the taken version, got v$v")
    assert(java.nio.file.Files.readString(winner).contains("\"files\": []"),
      "winner's manifest was clobbered")
    // v2 = winner's (empty) snapshot + our new rows
    assert(SnapshotTable.read(spark, t, Some(2)).as[(Int, String)]
      .collect().toSet == Set((2, "b")))
  }

  test("true concurrent appends: every commit lands, versions dense, no lost rows") {
    val t = Files.createTempDirectory("graft_snap_conc").toString + "/t"
    val writers = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    try {
      val futures = (1 to writers).map { i =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int =
            SnapshotTable.append(Seq((i, s"w$i")).toDF("id", "v"), t)
        })
      }
      val versions = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      // put-if-absent + retry: all writers commit, on DISTINCT dense
      // versions (first commit on an empty table is v0)
      assert(versions.toSet == (0 until writers).toSet,
        s"dense distinct versions, got $versions")
      val all = SnapshotTable.read(spark, t).as[(Int, String)].collect().toSet
      assert(all == (1 to writers).map(i => (i, s"w$i")).toSet,
        "no lost updates under contention")
    } finally pool.shutdownNow()
  }

  /** Jobs started and shuffle bytes written while `body` runs. */
  private def jobsAndShuffle[A](body: => A): (A, Int, Long) = {
    val jobs = new AtomicInteger
    val shuffleBytes = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          shuffleBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    org.apache.spark.sql.GraftShim.drainListenerBus(spark, 30000L)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.sql.GraftShim.drainListenerBus(spark, 30000L)
      (out, jobs.get, shuffleBytes.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("compaction bin-packs small files; content identical; old snapshot intact") {
    val t = Files.createTempDirectory("graft_snap5").toString + "/t"
    // 4 appends x 2 files each = 8 small files
    (0 until 4).foreach(i =>
      SnapshotTable.append(
        spark.range(i * 100, (i + 1) * 100).selectExpr("id").repartition(2), t))
    val before = SnapshotTable.filesForRead(t)
    assert(before.size == 8)
    val (v, jobs, shuffled) = jobsAndShuffle(
      SnapshotTable.compact(spark, t, targetFileBytes = 512L * 1024 * 1024))
    assert(v.contains(4))
    // one bin: the single writer task reads the small files directly
    assert(shuffled == 0L, s"one-bin compaction shuffled $shuffled bytes")
    assert(jobs == 1, s"one-bin compaction ran $jobs jobs")
    val after = SnapshotTable.filesForRead(t)
    assert(after.size == 1, s"expected 1 packed file, got ${after.size}")
    // identical content, and the pre-compaction snapshot still reads
    assert(SnapshotTable.read(spark, t).as[Long].collect().sorted.toSeq
      == (0L until 400L))
    assert(SnapshotTable.read(spark, t, Some(3)).count() == 400)
    // nothing left to compact: no new version
    assert(SnapshotTable.compact(spark, t).isEmpty)
    // compaction keeps footer stats usable for pruning on the new file
    val pr = Seq(SnapshotTable.ColRange("id", lower = Some(0L), upper = Some(399L)))
    assert(SnapshotTable.filesForRead(t, prune = pr).size == 1)
  }

  test("multi-bin compaction still round-robins into one file per bin") {
    val t = Files.createTempDirectory("graft_compact_multi").toString + "/t"
    (0 until 4).foreach(i => SnapshotTable.append(
      spark.range(i * 100, (i + 1) * 100).selectExpr("id").repartition(2), t))
    // every small file under the target, their sum over it: several bins
    val sizes = SnapshotTable.sizedFilesForRead(t).map(_._2)
    val target = sizes.max + 1
    val bins = math.ceil(sizes.sum.toDouble / target).toInt
    assert(sizes.size == 8 && bins > 1)
    val (v, _, shuffled) = jobsAndShuffle(
      SnapshotTable.compact(spark, t, targetFileBytes = target))
    assert(v.contains(4))
    assert(SnapshotTable.filesForRead(t).size == bins)
    assert(SnapshotTable.read(spark, t).as[Long].collect().sorted.toSeq == (0L until 400L))
    assert(shuffled > 0L, "a multi-bin compaction round-robins its rows")
  }

  test("a second append of a same-shaped ingest batch compiles no classes") {
    val dir = Files.createTempDirectory("graft_snap_codegen")
    val t = dir.toString + "/t"
    val header = EnergyIngest.rawSchema.fieldNames.mkString(",")
    def batch(i: Int): String = {
      val p = dir.resolve(s"batch$i.csv")
      Files.write(p, (header +: (1 to 20).map(r =>
        s"H${i * 100 + r},Fridge,${r * 0.5},10:00,01-0$i-2023,20,Winter,3"))
        .mkString("\n").getBytes)
      p.toString
    }
    def append(i: Int): Int =
      SnapshotTable.append(EnergyIngest.ingest(spark, batch(i))._1, t)
    append(1) // compiles the write's generated classes once
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    assert(append(2) == 1)
    assert(compiles.getCount - before == 0L,
      s"the second append compiled ${compiles.getCount - before} classes")
    assert(SnapshotTable.read(spark, t).count() == 40)
  }

  test("schema evolution: appended columns project as null over old files") {
    val t = Files.createTempDirectory("graft_snap7").toString + "/t"
    SnapshotTable.append(Seq((1, "a")).toDF("id", "v"), t)              // v0
    SnapshotTable.append(Seq((2, "b", 9.5)).toDF("id", "v", "score"), t) // v1 adds score
    val cur = SnapshotTable.read(spark, t)
    assert(cur.columns.toSeq == Seq("id", "v", "score"))
    val rows = cur.as[(Int, String, Option[Double])].collect().toSet
    assert(rows == Set((1, "a", None), (2, "b", Some(9.5))))
    // time travel to v0 keeps the ORIGINAL two-column schema
    assert(SnapshotTable.read(spark, t, Some(0)).columns.toSeq == Seq("id", "v"))
    // type change on an existing column is rejected
    val err = intercept[IllegalArgumentException](
      SnapshotTable.append(Seq(("x", "y")).toDF("id", "v"), t))
    assert(err.getMessage.contains("schema evolution rejected"), err.getMessage)
    // upsert with the evolved schema merges; missing columns null-fill
    SnapshotTable.upsert(spark,
      Seq((1, "A", 1.5), (3, "c", 3.5)).toDF("id", "v", "score"), t, "id")
    val merged = SnapshotTable.read(spark, t)
      .as[(Int, String, Option[Double])].collect().toSet
    assert(merged == Set((1, "A", Some(1.5)), (2, "b", Some(9.5)), (3, "c", Some(3.5))))
    // compaction packs mixed-schema files through the union schema
    val v = SnapshotTable.compact(spark, t, targetFileBytes = 512L * 1024 * 1024)
    if (v.nonEmpty)
      assert(SnapshotTable.read(spark, t)
        .as[(Int, String, Option[Double])].collect().toSet == merged)
  }

  test("restore: metadata-only rollback as a new version; history audits it") {
    val t = Files.createTempDirectory("graft_snap10").toString + "/t"
    SnapshotTable.append(Seq((1, "a")).toDF("id", "v"), t)           // v0
    SnapshotTable.append(Seq((2, "b")).toDF("id", "v"), t)           // v1
    SnapshotTable.overwrite(Seq((9, "z")).toDF("id", "v"), t)        // v2 clobbers
    assert(SnapshotTable.read(spark, t).count() == 1)
    val rv = SnapshotTable.restore(t, 1)
    assert(rv == 3)
    // restored content == v1's, and the clobbering v2 is still readable
    assert(SnapshotTable.read(spark, t).as[(Int, String)].collect().toSet
      == Set((1, "a"), (2, "b")))
    assert(SnapshotTable.read(spark, t, Some(2)).count() == 1)
    // no data was copied: v3 references v1's files exactly
    assert(SnapshotTable.filesForRead(t, Some(3)).toSet
      == SnapshotTable.filesForRead(t, Some(1)).toSet)
    // restore keeps CURRENT txn watermarks so replays stay no-ops
    SnapshotTable.appendIdempotent(Seq((5, "e")).toDF("id", "v"), t, "w", 0L)
    SnapshotTable.restore(t, 1)
    assert(SnapshotTable.appendIdempotent(
      Seq((5, "e")).toDF("id", "v"), t, "w", 0L).isEmpty)
    val hist = SnapshotTable.history(t)
    assert(hist.map(_._1) == (0 to 5))
    assert(hist.forall { case (_, n, bytes) => n >= 1 && bytes > 0 })
  }

  test("appendIdempotent: a (writer, version) pair applies at most once") {
    val t = Files.createTempDirectory("graft_snap8").toString + "/t"
    assert(SnapshotTable.appendIdempotent(
      Seq((1, "a")).toDF("id", "v"), t, "ing", 0L).contains(0))
    // replay of batch 0 is a no-op
    assert(SnapshotTable.appendIdempotent(
      Seq((1, "a")).toDF("id", "v"), t, "ing", 0L).isEmpty)
    assert(SnapshotTable.read(spark, t).count() == 1)
    // next batch commits; an UNRELATED commit in between must not
    // erase the writer's watermark
    SnapshotTable.append(Seq((9, "z")).toDF("id", "v"), t)
    assert(SnapshotTable.appendIdempotent(
      Seq((2, "b")).toDF("id", "v"), t, "ing", 1L).isDefined)
    assert(SnapshotTable.appendIdempotent(
      Seq((2, "b")).toDF("id", "v"), t, "ing", 1L).isEmpty)
    // an older batch id replayed late is also a no-op (watermark is max)
    assert(SnapshotTable.appendIdempotent(
      Seq((1, "a")).toDF("id", "v"), t, "ing", 0L).isEmpty)
    // a DIFFERENT writer id has its own watermark
    assert(SnapshotTable.appendIdempotent(
      Seq((7, "w")).toDF("id", "v"), t, "other", 0L).isDefined)
    assert(SnapshotTable.read(spark, t).count() == 4)
  }

  test("SnapshotSink: streamed ingest lands exactly once, batch replay safe") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val t = Files.createTempDirectory("graft_snap9").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_snap9_ckpt").toString
    val input = MemoryStream[(Long, Double)]
    input.addData((1L, 1.0), (2L, 2.0), (3L, 3.0))
    val q = graft.streaming.SnapshotSink.start(
      input.toDF().toDF("id", "value"), t, ckpt, "snap_ingest")
    q.processAllAvailable(); q.stop()
    assert(SnapshotTable.read(spark, t).count() == 3)
    // simulate the at-least-once failure mode: the same batch content
    // re-applied with its original batch id must not duplicate
    val replayed = SnapshotTable.appendIdempotent(
      Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("id", "value"),
      t, "snap_ingest", 0L)
    assert(replayed.isEmpty)
    assert(SnapshotTable.read(spark, t).count() == 3)
    // a restarted stream with the same checkpoint continues, new data lands
    val input2 = input
    input2.addData((4L, 4.0))
    val q2 = graft.streaming.SnapshotSink.start(
      input2.toDF().toDF("id", "value"), t, ckpt, "snap_ingest")
    q2.processAllAvailable(); q2.stop()
    assert(SnapshotTable.read(spark, t).count() == 4)
  }

  test("delete: copy-on-write rewrites only stat-intersecting files") {
    import org.apache.spark.sql.functions.col
    val t = Files.createTempDirectory("graft_del").toString + "/t"
    // three commits with disjoint id ranges -> three files with
    // disjoint footer stats
    SnapshotTable.append((1 to 100).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1), t)
    SnapshotTable.append((101 to 200).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1), t)
    SnapshotTable.append((201 to 300).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1), t)
    val before = SnapshotTable.filesForRead(t).toSet

    val v = leavesNothingPersisted(
      SnapshotTable.delete(spark, t, col("id") >= 150 && col("id") < 160))
    assert(v.contains(3))
    val after = SnapshotTable.filesForRead(t).toSet
    // files 1 and 3 carry over by NAME; only the middle file rewrote
    assert((before & after).size == 2, s"expected 2 untouched files: $before -> $after")
    val ids = SnapshotTable.read(spark, t).select("id").as[Int].collect().toSet
    assert(ids == ((1 to 149) ++ (160 to 300)).toSet)
    // pre-delete snapshot still time-travels
    assert(SnapshotTable.read(spark, t, Some(2)).count() == 300)

    // no file can contain a match -> metadata-only no-op
    assert(SnapshotTable.delete(spark, t, col("id") > 5000).isEmpty)
    assert(SnapshotTable.currentVersion(t).contains(3))

    // NULL condition rows stay (three-valued logic)
    val t2 = Files.createTempDirectory("graft_del2").toString + "/t"
    SnapshotTable.append(Seq((1, Some(1.0)), (2, None), (3, Some(3.0)))
      .toDF("id", "x"), t2)
    SnapshotTable.delete(spark, t2, col("x") > 2.0)
    assert(SnapshotTable.read(spark, t2).select("id").as[Int].collect().toSet == Set(1, 2))
  }

  test("bloom-indexed append writes parquet bloom filters") {
    import org.apache.spark.sql.functions.col
    val t = Files.createTempDirectory("graft_bloom").toString + "/t"
    SnapshotTable.append((1 to 5000).map(i => (i, s"u${i % 977}"))
      .toDF("id", "user").coalesce(1), t, bloomColumns = Seq("user"))

    val file = java.nio.file.Paths.get(t, "data",
      SnapshotTable.filesForRead(t).head)
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri), new org.apache.hadoop.conf.Configuration()))
    try {
      val rg = reader.getFooter.getBlocks.get(0)
      import scala.jdk.CollectionConverters._
      val byPath = rg.getColumns.asScala.map(c => c.getPath.toDotString -> c).toMap
      val bloomReader = reader.getBloomFilterDataReader(rg)
      assert(bloomReader.readBloomFilter(byPath("user")) != null,
        "indexed column must carry a bloom filter")
      assert(bloomReader.readBloomFilter(byPath("id")) == null,
        "non-indexed column must not")
    } finally reader.close()

    // equality probe stays correct through the bloom-enabled reader
    assert(SnapshotTable.read(spark, t).filter(col("user") === "u7").count() == 6)
  }

  test("sorted compaction restores disjoint clustering stats") {
    import org.apache.spark.sql.functions.col
    val t = Files.createTempDirectory("graft_sortcomp").toString + "/t"
    // interleaved streaming-style commits: every file spans the whole
    // key range, so nothing prunes
    (0 until 4).foreach { k =>
      SnapshotTable.append((1 to 400).filter(_ % 4 == k)
        .map(i => (i, s"v$i")).toDF("id", "v").coalesce(1), t)
    }
    val noPrune = SnapshotTable.filesForRead(t, prune = Seq(
      SnapshotTable.ColRange("id", Some(10L), Some(20L))))
    assert(noPrune.size == 4, "degraded layout: every file intersects")

    val (v, _, shuffled) = jobsAndShuffle(
      SnapshotTable.compact(spark, t, targetFileBytes = 4096, sortBy = Seq("id")))
    assert(v.isDefined)
    assert(shuffled > 0L, "a sorted compaction range-partitions its rows")
    val total = SnapshotTable.filesForRead(t).size
    val pruned = SnapshotTable.filesForRead(t, prune = Seq(
      SnapshotTable.ColRange("id", Some(10L), Some(20L))))
    assert(pruned.size < total,
      s"range-clustered compaction must restore pruning ($pruned of $total)")
    // content identical
    assert(SnapshotTable.read(spark, t).select("id").as[Int].collect().sorted.toSeq ==
      (1 to 400))
  }

  test("update: copy-on-write SET over pruned candidate files") {
    import org.apache.spark.sql.functions.{col, lit}
    val t = Files.createTempDirectory("graft_upd").toString + "/t"
    SnapshotTable.append((1 to 100).map(i => (i, i * 1.0)).toDF("id", "x").coalesce(1), t)
    SnapshotTable.append((101 to 200).map(i => (i, i * 1.0)).toDF("id", "x").coalesce(1), t)
    val before = SnapshotTable.filesForRead(t).toSet

    val v = leavesNothingPersisted(SnapshotTable.update(spark, t, col("id") <= 50,
      Map("x" -> (col("x") * 10 + col("id")))))
    assert(v.contains(2))
    assert((before & SnapshotTable.filesForRead(t).toSet).size == 1,
      "file outside the condition range carries over")
    val byId = SnapshotTable.read(spark, t).as[(Int, Double)].collect().toMap
    assert(byId(10) == 110.0 && byId(50) == 550.0)
    assert(byId(51) == 51.0 && byId(200) == 200.0)

    // no candidate file -> None
    assert(SnapshotTable.update(spark, t, col("id") > 9999,
      Map("x" -> lit(0.0))).isEmpty)
  }

  test("merge: update/delete/insert clauses with source-key-range file pruning") {
    import org.apache.spark.sql.functions.{col, lit}
    val t = Files.createTempDirectory("graft_merge").toString + "/t"
    SnapshotTable.append((1 to 100).map(i => (i, i * 10, "keep")).toDF("id", "n", "tag")
      .coalesce(1), t)
    SnapshotTable.append((101 to 200).map(i => (i, i * 10, "keep")).toDF("id", "n", "tag")
      .coalesce(1), t)
    val before = SnapshotTable.filesForRead(t).toSet

    // source keys all land in the second file's range (plus one insert)
    val src = Seq((150, 0, "x"), (160, 0, "x"), (250, 0, "x")).toDF("id", "n", "tag")
    leavesNothingPersisted(SnapshotTable.merge(spark, t, src, "id",
      whenMatchedUpdate = Map(
        "n" -> col("_src.n"), "tag" -> lit("updated")),
      whenMatchedDelete = Some(col("id") === 160),
      whenNotMatchedInsert = true))

    val after = SnapshotTable.filesForRead(t).toSet
    assert((before & after).size == 1, "file outside the source key envelope carries over")

    val rows = SnapshotTable.read(spark, t)
      .select("id", "n", "tag").as[(Int, Int, String)].collect()
    val byId = rows.map(r => r._1 -> r).toMap
    assert(rows.length == 200) // 200 - 1 delete + 1 insert
    assert(byId(150) == ((150, 0, "updated")))
    assert(!byId.contains(160), "whenMatchedDelete must drop the row")
    assert(byId(250) == ((250, 0, "x")), "whenNotMatchedInsert adds source rows")
    assert(byId(50) == ((50, 500, "keep")) && byId(199) == ((199, 1990, "keep")))

    // whenNotMatchedInsert=false: unmatched source rows are ignored
    SnapshotTable.merge(spark, t, Seq((999, 1, "z")).toDF("id", "n", "tag"), "id",
      whenNotMatchedInsert = false)
    assert(SnapshotTable.read(spark, t).filter(col("id") === 999).isEmpty)
  }

  test("readChanges: file-diff change feed tags rows with the commit version") {
    val t = Files.createTempDirectory("graft_snap6").toString + "/t"
    SnapshotTable.append(Seq((1, "a")).toDF("id", "v"), t)  // v0
    SnapshotTable.append(Seq((2, "b")).toDF("id", "v"), t)  // v1
    SnapshotTable.append(Seq((3, "c"), (4, "d")).toDF("id", "v"), t) // v2
    val changes = SnapshotTable.readChanges(spark, t, sinceVersion = 0)
      .as[(Int, String, Int)].collect().toSet
    assert(changes == Set((2, "b", 1), (3, "c", 2), (4, "d", 2)))
    // bounded upper version
    val v1only = SnapshotTable.readChanges(spark, t, 0, toVersion = Some(1))
      .as[(Int, String, Int)].collect().toSet
    assert(v1only == Set((2, "b", 1)))
    // empty diff keeps the schema
    val empty = SnapshotTable.readChanges(spark, t, 2)
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("id", "v", "_commit_version"))
    // since == latest is fine; beyond it errors clearly
    intercept[IllegalArgumentException](SnapshotTable.readChanges(spark, t, 99))
  }

  test("readChanges plans from the manifest, not a listed file index") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
    val t = Files.createTempDirectory("graft_snap_cdf").toString + "/t"
    SnapshotTable.append(Seq((1, "a")).toDF("id", "v"), t)
    SnapshotTable.append(Seq((2, "b")).toDF("id", "v"), t)
    val plan = SnapshotTable.readChanges(spark, t, sinceVersion = 0)
      .queryExecution.optimizedPlan
    val locations = plan.collect { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location }
    assert(locations.nonEmpty, plan)
    assert(!locations.exists(_.isInstanceOf[InMemoryFileIndex]), locations)
  }

  test("legacy manifests are rejected: textual, unsized or schemaless entries") {
    import com.fasterxml.jackson.databind.ObjectMapper
    import com.fasterxml.jackson.databind.node.ObjectNode
    import java.nio.file.Paths
    val root = Files.createTempDirectory("graft_snap_legacy").toString
    val src = s"$root/src"
    SnapshotTable.append(Seq((1, "a")).toDF("id", "v"), src)
    val mapper = new ObjectMapper()
    val v0 = mapper.readTree(Files.readString(Paths.get(src, "_manifests", "v0.json")))
      .asInstanceOf[ObjectNode]
    val name = v0.get("files").get(0).get("name").asText()
    // a v0 manifest over a copy of the one real data file, edited
    // into a shape written before sizes and schemas were recorded
    def legacy(label: String)(edit: ObjectNode => Unit): String = {
      val t = s"$root/$label"
      Files.createDirectories(Paths.get(t, "data"))
      Files.createDirectories(Paths.get(t, "_manifests"))
      Files.copy(Paths.get(src, "data", name), Paths.get(t, "data", name))
      val m = v0.deepCopy()
      edit(m)
      Files.writeString(Paths.get(t, "_manifests", "v0.json"), mapper.writeValueAsString(m))
      t
    }
    val tables = Seq(
      legacy("textual") { m => m.putArray("files").add(name); () },
      legacy("unsized") { m =>
        m.get("files").get(0).asInstanceOf[ObjectNode].remove("size"); () },
      legacy("schemaless") { m => m.remove("schema"); () })
    tables.foreach { t =>
      val err = intercept[IllegalArgumentException](SnapshotTable.read(spark, t))
      assert(err.getMessage.contains(s"$t v0"), err.getMessage)
    }
  }

  test("cloneShallow: zero-copy, isolated lifecycles, constraints carried") {
    val base = Files.createTempDirectory("graft_clone").toString
    val src = base + "/src"
    val dst = base + "/dst"
    SnapshotTable.append(Seq((1, "a"), (2, "b")).toDF("id", "v"), src)
    SnapshotTable.append(Seq((3, "c")).toDF("id", "v"), src)
    SnapshotTable.addConstraint(spark, src, "pos_id", "id > 0")
    assert(SnapshotTable.cloneShallow(src, dst) == 0)
    // same content; no bytes copied — every data file is a hardlink
    // (two directory entries, one inode)
    assert(SnapshotTable.read(spark, dst).as[(Int, String)].collect().toSet
      == Set((1, "a"), (2, "b"), (3, "c")))
    SnapshotTable.filePathsForRead(dst).foreach { f =>
      val p = java.nio.file.Paths.get(
        f.stripPrefix("file:"))
      val n = Files.getAttribute(p, "unix:nlink")
        .asInstanceOf[Number].intValue()
      assert(n >= 2, s"$f must be a hardlink, nlink=$n")
    }
    // the constraint traveled: a violating append rejects on the clone
    intercept[IllegalArgumentException](
      SnapshotTable.append(Seq((-5, "x")).toDF("id", "v"), dst))
    // isolation both ways: append to clone invisible in src; vacuuming
    // the source (dropping all its history + data files) must not
    // break the clone's reads — its hardlinks keep the inodes alive
    SnapshotTable.append(Seq((4, "d")).toDF("id", "v"), dst)
    assert(SnapshotTable.read(spark, src).count() == 3)
    SnapshotTable.overwrite(Seq((9, "z")).toDF("id", "v"), src)
    SnapshotTable.vacuum(src, keepVersions = 1)
    assert(SnapshotTable.read(spark, dst).as[(Int, String)].collect().toSet
      == Set((1, "a"), (2, "b"), (3, "c"), (4, "d")))
    // a clone is a fresh history: version 0, one commit after = 1
    assert(SnapshotTable.currentVersion(dst).contains(1))
    // and a fresh idempotence scope: txn watermarks did NOT carry
    SnapshotTable.appendIdempotent(Seq((7, "g")).toDF("id", "v"), src, "w9", 3L)
    val dst2 = base + "/dst2"
    SnapshotTable.cloneShallow(src, dst2)
    assert(SnapshotTable.appendIdempotent(
      Seq((8, "h")).toDF("id", "v"), dst2, "w9", 3L).nonEmpty,
      "the clone must accept the writer's batch afresh")
  }

  test("renameColumn: metadata-only, time-travel-aware, write paths map") {
    val t = Files.createTempDirectory("graft_rename").toString + "/t"
    SnapshotTable.append(Seq((1, 10.0), (2, 20.0)).toDF("id", "amount"), t)
    val filesBefore = SnapshotTable.filesForRead(t).toSet
    SnapshotTable.renameColumn(t, "amount", "price")        // v1, metadata-only
    assert(SnapshotTable.filesForRead(t).toSet == filesBefore,
      "rename must not rewrite a single data file")
    assert(SnapshotTable.read(spark, t).columns.toSeq == Seq("id", "price"))
    assert(SnapshotTable.read(spark, t).as[(Int, Double)].collect().toSet
      == Set((1, 10.0), (2, 20.0)), "values survive the rename")
    // time travel to v0 shows the OLD name
    assert(SnapshotTable.read(spark, t, Some(0)).columns.toSeq
      == Seq("id", "amount"))
    // post-rename append arrives under the LOGICAL name and lands on
    // the same physical column (not a new null-padded one)
    SnapshotTable.append(Seq((3, 30.0)).toDF("id", "price"), t)
    assert(SnapshotTable.read(spark, t).as[(Int, Double)].collect().toSet
      == Set((1, 10.0), (2, 20.0), (3, 30.0)))
    assert(SnapshotTable.schemaOf(spark, t).fieldNames.toSeq
      == Seq("id", "amount"), "the PHYSICAL schema never changes")
    // logical-name predicates drive delete and update
    import org.apache.spark.sql.functions.{col, lit}
    SnapshotTable.update(spark, t, col("price") === 20.0,
      Map("price" -> lit(25.0)))
    SnapshotTable.delete(spark, t, col("price") < 15.0)
    assert(SnapshotTable.read(spark, t).as[(Int, Double)].collect().toSet
      == Set((2, 25.0), (3, 30.0)))
    // chained rename keeps ONE mapping entry keyed by the original
    // physical name; renaming back to the physical name drops it
    SnapshotTable.renameColumn(t, "price", "cost")
    assert(SnapshotTable.columnMappingOf(t) == Map("amount" -> "cost"))
    SnapshotTable.renameColumn(t, "cost", "amount")
    assert(SnapshotTable.columnMappingOf(t).isEmpty)
    assert(SnapshotTable.read(spark, t).columns.toSeq == Seq("id", "amount"))
  }

  test("forget-user: erased rows are PHYSICALLY gone after vacuum; " +
      "untouched files survive by name") {
    import org.apache.spark.sql.functions.col
    val t = Files.createTempDirectory("graft_forget").toString + "/t"
    // user-clustered files so the delete's stat pruning bites
    val rows = (1 to 400).map(i => (i.toLong, (i / 100).toLong))
    SnapshotTable.append(
      rows.toDF("id", "user").repartitionByRange(4, col("user")), t)
    val before = SnapshotTable.filePathsForRead(t).toSet
    assert(before.size >= 2)
    SnapshotTable.delete(spark, t, col("user") === 1L)
    val afterDelete = SnapshotTable.filePathsForRead(t).toSet
    // files whose user range excludes 1 carry over BY NAME
    assert((before intersect afterDelete).nonEmpty,
      "stat pruning must keep non-intersecting files")
    SnapshotTable.vacuum(t, keepVersions = 1)
    // the erased user is gone from the PHYSICAL bytes, not just the view
    val raw = spark.read.parquet(
      SnapshotTable.filePathsForRead(t).map(_.stripPrefix("file:")): _*)
    assert(raw.filter(col("user") === 1L).count() == 0,
      "no surviving file may contain the erased user")
    assert(SnapshotTable.read(spark, t).count() == 300)
    // the pre-delete snapshot is no longer reconstructable — its
    // manifest is gone (the retention consequence erasure REQUIRES)
    intercept[Throwable] {
      SnapshotTable.read(spark, t, Some(0)).collect()
    }
  }

  test("renameColumn guards: collisions, constraint references, merge") {
    val t = Files.createTempDirectory("graft_rename2").toString + "/t"
    SnapshotTable.append(Seq((1, 10.0, "x")).toDF("id", "amount", "tag"), t)
    intercept[IllegalArgumentException](
      SnapshotTable.renameColumn(t, "amount", "tag")) // collision
    intercept[IllegalArgumentException](
      SnapshotTable.renameColumn(t, "nope", "other")) // unknown column
    SnapshotTable.addConstraint(spark, t, "pos", "amount > 0")
    intercept[IllegalArgumentException](
      SnapshotTable.renameColumn(t, "amount", "price")) // referenced
    SnapshotTable.dropConstraint(t, "pos")
    SnapshotTable.renameColumn(t, "amount", "price")
    // constraints added AFTER the rename reference the logical name
    // and enforce against logical batches
    SnapshotTable.addConstraint(spark, t, "pos2", "price > 0")
    intercept[IllegalArgumentException](
      SnapshotTable.append(Seq((9, -1.0, "y")).toDF("id", "price", "tag"), t))
    // MERGE is not mapping-aware yet: loud rejection, not wrong rows
    intercept[IllegalArgumentException](
      SnapshotTable.merge(spark, t,
        Seq((1, 11.0, "z")).toDF("id", "price", "tag"), "id"))
  }

  test("mapped tables: change feed is logical, overwrite maps to physical") {
    val t = Files.createTempDirectory("graft_rename3").toString + "/t"
    SnapshotTable.append(Seq((1, 10.0)).toDF("id", "amount"), t)   // v0
    SnapshotTable.renameColumn(t, "amount", "price")               // v1
    SnapshotTable.append(Seq((2, 20.0)).toDF("id", "price"), t)    // v2
    // change feed shows LOGICAL names — including files committed
    // BEFORE the rename (they carry the physical name on disk)
    val feed = SnapshotTable.readChanges(spark, t, sinceVersion = -1)
    assert(feed.columns.toSet == Set("id", "price", "_commit_version"),
      s"CDC of a renamed table must be logical: ${feed.columns.toSeq}")
    assert(feed.filter($"price" === 10.0).count() == 1)
    // empty diff keeps the same (logical) shape
    val empty = SnapshotTable.readChanges(spark, t, 2)
    assert(empty.columns.toSet == Set("id", "price", "_commit_version"))
    // overwrite with a logical-named frame, then append again: ONE
    // column end to end, no forked physical schema
    SnapshotTable.overwrite(Seq((3, 30.0)).toDF("id", "price"), t) // v3
    SnapshotTable.append(Seq((4, 40.0)).toDF("id", "price"), t)    // v4
    val now = SnapshotTable.read(spark, t)
    assert(now.columns.toSet == Set("id", "price"), s"${now.columns.toSeq}")
    assert(now.count() == 2 && now.filter($"price".isNull).count() == 0,
      "overwrite+append on a mapped table must not null-pad fork columns")
    // sorted compaction accepts the LOGICAL sort name on a mapped table
    SnapshotTable.append(Seq((5, 50.0)).toDF("id", "price"), t)
    SnapshotTable.compact(spark, t, sortBy = Seq("price"))
    assert(SnapshotTable.read(spark, t).count() == 3)
  }

  test("diffVersions: row-level insert/update/delete by key, null-safe") {
    val t = Files.createTempDirectory("graft_diff").toString + "/t"
    SnapshotTable.append(Seq(
      (1L, Some("a"), 10.0), (2L, Some("b"), 20.0), (3L, Some("c"), 30.0),
      (5L, None: Option[String], 50.0)).toDF("id", "tag", "amt"), t) // v0
    SnapshotTable.upsert(spark, Seq(
      (2L, Some("b"), 25.0),            // value update
      (4L, Some("d"), 40.0),            // insert
      (5L, Some("e"), 50.0)).toDF("id", "tag", "amt"), t, "id")     // null->e
    SnapshotTable.delete(spark, t, $"id" === 3L)                    // v2
    val d = SnapshotTable.diffVersions(spark, t, 0, 2, "id")
      .select("id", "change").as[(Long, String)].collect().toMap
    assert(d == Map(2L -> "update", 3L -> "delete", 4L -> "insert",
      5L -> "update"), s"$d") // id 1 unchanged -> absent
    // old/new values ride along
    val row = SnapshotTable.diffVersions(spark, t, 0, 2, "id")
      .filter($"id" === 2L).select("old_amt", "new_amt")
      .as[(Double, Double)].head()
    assert(row == ((20.0, 25.0)))
    // identical versions diff empty
    assert(SnapshotTable.diffVersions(spark, t, 2, 2, "id").count() == 0)
  }

  test("renameColumn rejects renaming a generated column itself") {
    val t = Files.createTempDirectory("graft_rename4").toString + "/t"
    SnapshotTable.append(Seq((1, 10.0)).toDF("id", "amount"), t)
    SnapshotTable.addGeneratedColumn(spark, t, "amount2x", "amount * 2")
    // materialize the generated column into the schema via a data commit
    SnapshotTable.append(Seq((2, 20.0)).toDF("id", "amount"), t)
    val err = intercept[IllegalArgumentException](
      SnapshotTable.renameColumn(t, "amount2x", "doubled"))
    assert(err.getMessage.contains("generated"), err.getMessage)
    // dropping the generated entry unblocks the rename
    SnapshotTable.dropGeneratedColumn(t, "amount2x")
    SnapshotTable.renameColumn(t, "amount2x", "doubled")
    assert(SnapshotTable.read(spark, t).columns.toSet ==
      Set("id", "amount", "doubled"))
  }
}
