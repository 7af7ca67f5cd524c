package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import Shared._

/** Queries, each with its DuckDB oracle, for the table format and
  * streaming: snapshot scans, merges, CDC, schema evolution, incremental
  * rollups, sketches and streaming aggregates.
  */
private[graft] object LakehouseQueries extends QueryDomain {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // lakehouse DSv2 read path: orders committed to a SnapshotTable in
    // three date-disjoint commits, read back through
    // spark.read.format("graft-snapshot") — the pushed date predicate
    // prunes manifest files via footer stats BEFORE the scan plans
    // (only the 1996 commit's files are opened), then Spark's parquet
    // scan handles row-group skip + column pruning. Oracle runs the
    // same aggregation over the raw orders table.
    "q64_snapshot_scan" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
      val t = scratchDir("graft_q64") + "/orders_snap"
      Seq(("1992-01-01", "1995-01-01"), ("1995-01-01", "1997-01-01"),
          ("1997-01-01", "1999-01-01")).foreach { case (lo, hi) =>
        graft.sources.SnapshotTable.append(
          orders.filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi)), t)
      }
      s.read.format("graft-snapshot").load(t)
        .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("total_price"))
        .orderBy("o_orderpriority")
    }),

    // conditional MERGE, end-to-end against a relational oracle:
    // pre-1996 orders become a snapshot table; the source doubles the
    // price of every key%97 row (matched UPDATE), drops key%(97*5)
    // rows (matched DELETE), and re-adds the updates under shifted
    // keys (NOT MATCHED INSERT). The oracle reproduces the same
    // disposition with a LEFT JOIN + UNION in plain SQL.
    "q65_snapshot_merge" -> ((s, dir) => {
      val t = scratchDir("graft_q65") + "/t"
      val tgt = Tables.orders(s, dir).filter(col("o_orderdate") < lit("1996-01-01"))
      graft.sources.SnapshotTable.append(tgt, t)
      val updates = tgt.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val inserts = updates
        .withColumn("o_orderkey", col("o_orderkey") + lit(30000000L))
      graft.sources.SnapshotTable.merge(s, t, updates.unionByName(inserts), "o_orderkey",
        whenMatchedUpdate = Map("o_totalprice" -> col("_src.o_totalprice")),
        whenMatchedDelete = Some(col("o_orderkey") % 485 === 0),
        whenNotMatchedInsert = true)
      graft.sources.SnapshotTable.read(s, t)
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("o_orderkey")).as("n_keys"),
          round(sum("o_totalprice"), 2).as("total_price"))
    }),

    // Count-Min heavy hitters under a full oracle: corpus bigrams,
    // support = 0.1% of the stream. At this universe (~930 types) vs
    // the sketch grid (eps 1e-4 -> 20k cells x depth 5, fixed seed)
    // the min-over-depth estimate is collision-free, so the emitted
    // (value, count) pairs equal DuckDB's exact GROUP BY — the sketch
    // path is pinned END-TO-END, not just its thresholded set. The
    // overcount-only contract (no false negatives) holds regardless.
    "q98_cms_heavy_hitters" -> ((s, dir) => {
      val t = TextAnalysis.tokens(col("text"))
      val bg = Tables.documents(s, dir).select(explode(zip_with(
          slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
          (a, b) => concat(a, lit(" "), b))).as("bigram"))
      val total = bg.count()
      val minCount = (total + 999L) / 1000L // ceil: cnt*1000 >= total
      val sk = graft.core.Sketches.countMin(bg, "bigram",
        eps = 0.0001, confidence = 0.99)
      graft.core.Sketches.heavyHitters(bg, "bigram", minCount, sk)
        .select(col("bigram"), col("est_count").as("cnt"))
    }),

    // the STREAMING sketch path under the same oracle: three
    // deterministic micro-batches through NgramStream.CmsHeavyHitters
    // (per-batch distributed CMS, driver merge, bounded candidate
    // head). Cell-wise CMS merge == one-pass CMS of the whole stream,
    // the grid is collision-free on this fixture (q98's argument), and
    // topKPerBatch exceeds the ~930-type universe so every gram is a
    // candidate — the stream-accumulated (value, count) pairs equal
    // DuckDB's exact GROUP BY over the batch-concatenated corpus.
    "q99_stream_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val hh = new graft.streaming.NgramStream.CmsHeavyHitters(
        n = 2, topKPerBatch = 2000, eps = 0.0001, confidence = 0.99)
      (0 until 3).foreach(b =>
        hh.update(docs.filter(col("doc_id") % 3 === b), "text"))
      val total = docs.select(explode(
        TextAnalysis.ngramsAll(col("text"), 2)).as("g")).count()
      hh.heavyHitters(minCount = (total + 999L) / 1000L)
        .toDF("bigram", "cnt")
    }),

    // the STREAMING drift monitor's exact windowed plan, run in batch
    // mode (the q93 discipline: streaming semantics under a relational
    // oracle; DriftStreamSpec proves the same plan streams with
    // watermark close + late-drop): per-day PSI of the event-value
    // distribution vs the whole table's, reference = 16 driver longs
    "q109_stream_psi" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val bucket = least(floor(col("value") / 32).cast("long"), lit(15L))
      val ref = graft.streaming.DriftStream.fitReference(ev, bucket, 16)
      graft.streaming.DriftStream.windowedPsi(ev, "ts", bucket, ref,
          windowDur = "1 day", watermarkDelay = "0 seconds")
        .select(col("window_start").cast("date").as("d"),
          col("psi_micro"), col("n_rows"))
    }),

    // incrementally-maintained daily rollup: two additive merge
    // commits (event_id parity batches) into a snapshot table must
    // equal the one-shot relational aggregate — the q100/q102
    // commit-structure-cannot-leak rule applied to aggregation;
    // per-row fixed-point BIGINT measures make partial sums order-free
    "q117_rollup_incremental" -> ((s, dir) => {
      val t = scratchDir("graft_q117") + "/rollup"
      val ev = Tables.events(s, dir)
      graft.sources.IncrementalRollup.upsertDaily(s,
        ev.filter(col("event_id") % 2 === 0), t)
      graft.sources.IncrementalRollup.upsertDaily(s,
        ev.filter(col("event_id") % 2 === 1), t)
      graft.sources.IncrementalRollup.readDaily(s, t)
    }),

    // exactly-once rollup ingest: the q117 build via the
    // txn-watermarked wrapper, with batch 1 REPLAYED — a leaked
    // replay would double half the days and fail the shared oracle
    "q119_rollup_exactly_once" -> ((s, dir) => {
      val t = scratchDir("graft_q119") + "/rollup"
      val ev = Tables.events(s, dir)
      val w = "gate-writer"
      graft.sources.IncrementalRollup.upsertDailyIdempotent(s,
        ev.filter(col("event_id") % 2 === 0), t, w, 0L)
      graft.sources.IncrementalRollup.upsertDailyIdempotent(s,
        ev.filter(col("event_id") % 2 === 1), t, w, 1L)
      graft.sources.IncrementalRollup.upsertDailyIdempotent(s,
        ev.filter(col("event_id") % 2 === 1), t, w, 1L)
      graft.sources.IncrementalRollup.readDaily(s, t)
    }),

    // manifest-level bloom file skipping: point lookups on a key
    // scattered across every file (all min/max ranges span the whole
    // id space — the layout where range stats prune NOTHING) open only
    // the files whose manifest bloom might contain the key, decided at
    // plan time with zero file opens; correctness bar = never skip a
    // file that contains the key, which the plain-filter oracle checks
    "q122_bloom_point_lookup" -> ((s, dir) => {
      val t = scratchDir("graft_q122") + "/docs"
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      graft.sources.SnapshotTable.appendBloomIndexed(
        docs.repartitionByRange(8, pmod(col("doc_id"), lit(8))),
        t, Seq("doc_id"), bloomBits = 8192, bloomK = 4)
      Seq(11L, 137L, 263L, 389L).map { k =>
        graft.sources.SnapshotTable.read(s, t,
            probes = Seq(graft.sources.SnapshotTable.ColProbe("doc_id", k)))
          .filter(col("doc_id") === k)
      }.reduce(_ unionByName _)
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // materialized-view rewrite: the daily aggregate WRITTEN OVER RAW
    // EVENTS is answered from the incrementally-maintained rollup
    // table — the optimizer substitutes the O(days) view for the
    // O(rows) scan (sameResult matching, the CacheManager principle).
    // The gate HARD-REQUIRES the rewrite to fire (otherwise the raw
    // aggregate would trivially equal the oracle and test nothing);
    // the shared q117 oracle then proves the view answers EXACTLY
    "q125_rollup_rewrite" -> ((s, dir) => {
      val t = scratchDir("graft_q125") + "/rollup"
      val ev = Tables.events(s, dir)
      graft.sources.IncrementalRollup.upsertDaily(s,
        ev.filter(col("event_id") % 2 === 0), t)
      graft.sources.IncrementalRollup.upsertDaily(s,
        ev.filter(col("event_id") % 2 === 1), t)
      graft.plans.RollupRewrite.register(ev, t)
      if (!s.experimental.extraOptimizations
          .contains(graft.plans.RollupRewrite))
        s.experimental.extraOptimizations =
          s.experimental.extraOptimizations :+ graft.plans.RollupRewrite
      val q = ev.groupBy(to_date(col("ts")).as("d"))
        .agg(sum(floor(col("value") * lit(1000000.0)).cast("long"))
            .as("total_micro"),
          count(lit(1)).as("n"))
      val fired = q.queryExecution.optimizedPlan.collectLeaves().exists {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              f.location.inputFiles.exists(_.contains("graft_q125"))
            case _ => false
          }
        case _ => false
      }
      require(fired, "MV rewrite did not fire — the gate would be vacuous")
      q
    }),

    // CHECK-constraint write gate on the snapshot table (the Delta
    // invariant contract): a constrained scratch table takes the
    // valid slice, REJECTS the violating batch atomically (the
    // exception is the assertion — a landed row would change the
    // counts), takes another valid batch after the rejection, and
    // reports the final state. The oracle reproduces the surviving
    // rows relationally: exactly the two valid slices
    "q199_constraint_gate" -> ((s, dir) => {
      val t = scratchDir("graft_q199") + "/t"
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"))
      val first = li.filter(col("l_orderkey") % 3 === 0)
      graft.sources.SnapshotTable.append(first, t)
      graft.sources.SnapshotTable.addConstraint(s, t, "qty_pos",
        "l_quantity > 0")
      val bad = li.filter(col("l_orderkey") % 3 === 1)
        .withColumn("l_quantity", col("l_quantity") * -1)
      try {
        graft.sources.SnapshotTable.append(bad, t)
        throw new IllegalStateException(
          "constraint gate FAILED to reject a violating batch")
      } catch {
        case e: IllegalArgumentException
          if e.getMessage.contains("qty_pos") => () // rejected: correct
      }
      graft.sources.SnapshotTable.append(
        li.filter(col("l_orderkey") % 3 === 2), t)
      graft.sources.SnapshotTable.read(s, t)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(expr("CAST(l_quantity AS BIGINT)")).as("sum_qty"))
    }),

    // CDC replication lifecycle in-gate: source table built in two
    // commits, replica bootstrapped through the change-feed sync
    // (exactly-once via the txn watermark), then one atomic CDC MERGE
    // batch (disjoint U/D/I slices) applied to the replica; the final
    // aggregate is the relational disposition of the same slices. A
    // re-run of sync inside the query must be a no-op (the watermark
    // assertion is the exception path — a double-apply would change
    // the sums)
    "q205_cdc_replication" -> ((s, dir) => {
      val base = scratchDir("graft_q205")
      val src = base + "/src"
      val rep = base + "/rep"
      val ord = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.SnapshotTable.append(
        ord.filter(col("o_orderkey") % 2 === 0), src)
      graft.sources.SnapshotTable.append(
        ord.filter(col("o_orderkey") % 2 === 1), src)
      val wid = "replica:q205"
      require(graft.sources.Replication.sync(s, src, rep, wid).isDefined)
      require(graft.sources.Replication.sync(s, src, rep, wid).isEmpty,
        "replayed sync must be a no-op")
      val u = ord.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .withColumn("_op", lit("U"))
      val d = ord.filter(col("o_orderkey") % 97 === 1)
        .withColumn("_op", lit("D"))
      val i = ord.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(90000000L))
        .withColumn("_op", lit("I"))
      graft.sources.Replication.applyCdc(s, rep,
        u.unionByName(d).unionByName(i), "o_orderkey")
      graft.sources.SnapshotTable.read(s, rep)
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("o_orderkey")).as("n_keys"),
          round(sum(col("o_totalprice")), 2).as("total_price"))
    }),

    // mergeable HLL distinct-count rollup (datasketches pattern):
    // daily user-day registers PERSISTED to a snapshot table in two
    // incremental commits (the daily job), then an ad-hoc 15-day
    // range distinct resolved entirely from the register table —
    // 128 integers per (type, day), never a raw re-scan. Registers
    // and estimate are integer/dyadic arithmetic on the portable
    // avalanched hash, so DuckDB replays the whole sketch exactly;
    // the exact count is joined alongside (the accuracy audit HLL
    // dashboards ship)
    "q206_hll_sketch_rollup" -> ((s, dir) => {
      val tbl = scratchDir("graft_q206") + "/reg"
      val lo = lit(java.sql.Date.valueOf("2024-01-08"))
      val hi = lit(java.sql.Date.valueOf("2024-01-22"))
      val ev = Tables.events(s, dir)
        .select(col("event_type"), to_date(col("ts")).as("d"),
          col("user_id"))
        .withColumn("key", concat(col("user_id").cast("string"),
          lit(":"), col("d").cast("string")))
      val daily = Sketches.hllRegisters(ev, col("key"),
        Seq("event_type", "d"))
      val mid = lit(java.sql.Date.valueOf("2024-01-16"))
      graft.sources.SnapshotTable.append(daily.filter(col("d") < mid), tbl)
      graft.sources.SnapshotTable.append(daily.filter(col("d") >= mid), tbl)
      val ranged = graft.sources.SnapshotTable.read(s, tbl)
        .filter(col("d").between(lo, hi))
      val est = Sketches.hllEstimate(ranged, Seq("event_type"))
      val exact = ev.filter(col("d").between(lo, hi))
        .groupBy("event_type")
        .agg(countDistinct(col("key")).as("exact_user_days"))
      est.join(exact, "event_type")
        .select(col("event_type"), col("active_buckets"),
          round(col("hll_estimate"), 4).as("hll_user_days"),
          col("exact_user_days"))
    }),

    // generated columns in-gate: o_month is GENERATED ALWAYS AS
    // month(o_orderdate) — registered on the empty table, then two
    // writer commits that never compute it; the table stamps it, the
    // manifest carries its stats, and the readback groups by a column
    // no writer ever supplied. The relational answer is just the
    // month rollup of orders
    "q209_generated_columns" -> ((s, dir) => {
      val t = scratchDir("graft_q209") + "/t"
      val ord = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      graft.sources.SnapshotTable.create(t, ord.schema)
      graft.sources.SnapshotTable.addGeneratedColumn(
        s, t, "o_month", "month(o_orderdate)")
      graft.sources.SnapshotTable.append(
        ord.filter(col("o_orderkey") % 2 === 0), t)
      graft.sources.SnapshotTable.append(
        ord.filter(col("o_orderkey") % 2 === 1), t)
      graft.sources.SnapshotTable.read(s, t)
        .groupBy(col("o_month").cast("long").as("o_month"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_price"))
    }),

    // mergeable histogram-quantile rollup — q206's pattern for
    // percentiles: per-(type, day) equi-width histograms (FIXED
    // domain [0,1000) x 250 bins — fixed edges are what make daily
    // sketches mergeable; a data-dependent domain wouldn't be) in a
    // snapshot table, a 15-day range p50/p90/p99 answered from merged
    // bin counts with integer within-bin interpolation, and the exact
    // order statistic (q142 lattice discipline) joined alongside as
    // the error audit — error bounded by bin width, never a raw
    // re-scan
    "q211_histogram_quantile_rollup" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tbl = scratchDir("graft_q211") + "/hist"
      val lo = lit(java.sql.Date.valueOf("2024-01-08"))
      val hi = lit(java.sql.Date.valueOf("2024-01-22"))
      val mid = lit(java.sql.Date.valueOf("2024-01-16"))
      val ev = Tables.events(s, dir).select(col("event_type"),
        to_date(col("ts")).as("d"),
        expr("CAST(floor(value * 1000000.0) AS BIGINT)").as("vm"))
      val daily = ev
        .withColumn("bin", least(expr("vm DIV 4000000L"), lit(249L)))
        .groupBy("event_type", "d", "bin").agg(count(lit(1)).as("cnt"))
      graft.sources.SnapshotTable.append(daily.filter(col("d") < mid), tbl)
      graft.sources.SnapshotTable.append(daily.filter(col("d") >= mid), tbl)
      val merged = graft.sources.SnapshotTable.read(s, tbl)
        .filter(col("d").between(lo, hi))
        .groupBy("event_type", "bin").agg(sum("cnt").as("cnt"))
      val wc = Window.partitionBy("event_type").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = merged.withColumn("cum", sum("cnt").over(wc))
        .withColumn("total",
          sum("cnt").over(Window.partitionBy("event_type")))
      import s.implicits._
      val pcts = Seq(50L, 90L, 99L).toDF("pct")
      val hist = cum.crossJoin(pcts)
        .withColumn("r", expr("(total * pct + 99L) DIV 100L"))
        .filter(col("cum") >= col("r"))
        .groupBy("event_type", "pct")
        .agg(min(struct(col("bin"), col("cum"), col("cnt"), col("r"),
          col("total"))).as("s"))
        .select(col("event_type"), col("pct"),
          expr("s.bin * 4000000L + (s.r - (s.cum - s.cnt)) * 4000000L " +
            "DIV s.cnt").as("hist_p_micro"),
          col("s.total").as("n_obs"))
      val raw = ev.filter(col("d").between(lo, hi))
        .groupBy("event_type", "vm").agg(count(lit(1)).as("c"))
      val wv = Window.partitionBy("event_type").orderBy("vm")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val exact = raw.withColumn("cum", sum("c").over(wv))
        .withColumn("total", sum("c").over(Window.partitionBy("event_type")))
        .crossJoin(pcts)
        .filter(col("cum") * 100 >= col("total") * col("pct"))
        .groupBy("event_type", "pct").agg(min("vm").as("exact_p_micro"))
      hist.join(exact, Seq("event_type", "pct"))
        .select(col("event_type"), col("pct"), col("hist_p_micro"),
          col("exact_p_micro"), col("n_obs"))
    }),

    // KMV/theta sketch source-overlap matrix — the set-OPERATION
    // sketch next to q206's union-only HLL: per event type the k=64
    // smallest distinct avalanched user-day hashes, built as TWO
    // incremental snapshot-table commits (split at the date midpoint),
    // merged by distinct + re-bottom-k (mergeability is the point),
    // then pairwise union/INTERSECTION estimates — below
    // θ = min(θ_a, θ_b) each sketch holds every distinct hash of its
    // set, so common-below-θ counts are exact on the sample. Exact
    // audit joined alongside. All BIGINT floor arithmetic
    "q218_theta_overlap" -> ((s, dir) => {
      val k = 64
      val tbl = scratchDir("graft_q218") + "/sk"
      val ev = Tables.events(s, dir)
        .select(col("event_type"), to_date(col("ts")).as("d"),
          concat(col("user_id").cast("string"), lit(":"),
            to_date(col("ts")).cast("string")).as("key"))
      val mid = lit(java.sql.Date.valueOf("2024-01-16"))
      graft.sources.SnapshotTable.append(
        Sketches.kmvSketch(ev.filter(col("d") < mid), col("key"),
          Seq("event_type"), k), tbl)
      graft.sources.SnapshotTable.append(
        Sketches.kmvSketch(ev.filter(col("d") >= mid), col("key"),
          Seq("event_type"), k), tbl)
      val merged = Sketches.kmvMerge(
        graft.sources.SnapshotTable.read(s, tbl), Seq("event_type"), k)
      val est = Sketches.kmvPairOverlap(merged, "event_type", k)
      val keys = ev.select(col("event_type").as("g"), col("key")).distinct()
      val exN = keys.groupBy("g").agg(count(lit(1)).as("n_ex"))
      // exact pairwise intersection via collect-groups-per-key + the
      // PairCombinations generator (the coPurchaseEdges shape): the
      // self-equi-join planned the distinct-keys lineage twice; group
      // membership per key is alphabet-bounded, pairs come out
      // g_a < g_b from the sorted struct array exactly like the old
      // x.g < y.g predicate — identical counts, same oracle
      val exInt = keys.groupBy("key")
        .agg(sort_array(collect_list(struct(col("g")))).as("gs"))
        .filter(size(col("gs")) > 1)
        .select(org.apache.spark.sql.GraftShim.column(
          graft.expressions.PairCombinations(
            org.apache.spark.sql.GraftShim.expression(col("gs"))))
          .as(Seq("g_a", "g_b")))
        .groupBy("g_a", "g_b")
        .agg(count(lit(1)).as("exact_intersect"))
      est
        .join(exInt, Seq("g_a", "g_b"), "left")
        .join(broadcast(exN.withColumnRenamed("g", "g_a")
          .withColumnRenamed("n_ex", "n_ex_a")), Seq("g_a"))
        .join(broadcast(exN.withColumnRenamed("g", "g_b")
          .withColumnRenamed("n_ex", "n_ex_b")), Seq("g_b"))
        .select(col("g_a"), col("g_b"), col("est_a"), col("est_b"),
          col("union_est"), col("intersect_est"),
          (col("n_ex_a") + col("n_ex_b")
            - coalesce(col("exact_intersect"), lit(0L))).as("exact_union"),
          coalesce(col("exact_intersect"), lit(0L)).as("exact_intersect"))
    }),

    // row-level semantic diff between snapshot versions BY KEY — what
    // the file-granularity change feed can't answer on copy-on-write
    // tables: v0 = pre-1996 orders; v1 = upsert (double price of
    // key%97, insert post-1996 key%199 rows); v2 = delete key%485.
    // diff(v0 -> v2) must surface exactly the updates that SURVIVED
    // the delete, the surviving inserts, and the deletes
    "q255_snapshot_diff" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
      val t = scratchDir("graft_q255") + "/orders_diff"
      val base = orders.filter(col("o_orderdate") < lit("1996-01-01"))
      graft.sources.SnapshotTable.append(base, t)                    // v0
      val updates = base.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val inserts = orders
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderkey") % 199 === 0)
      graft.sources.SnapshotTable.upsert(s,
        updates.unionByName(inserts), t, "o_orderkey")               // v1
      graft.sources.SnapshotTable.delete(s, t,
        col("o_orderkey") % 485 === 0)                               // v2
      graft.sources.SnapshotTable.diffVersions(s, t, 0, 2, "o_orderkey")
        .select(col("o_orderkey"), col("change"),
          round(col("old_o_totalprice"), 2).as("old_price"),
          round(col("new_o_totalprice"), 2).as("new_price"))
    }),

    // right-to-be-forgotten lifecycle: a user's rows leave via the
    // stat-pruned copy-on-write DELETE, then VACUUM physically drops
    // every file of the pre-delete versions — after which the erased
    // rows are not just invisible but GONE (time travel to the
    // pre-delete snapshot is impossible by design; the spec pins the
    // physical-bytes consequence). The gate reads the surviving table
    // under the complement oracle
    "q245_forget_user" -> ((s, dir) => {
      import graft.sources.SnapshotTable
      val tbl = scratchDir("graft_q245") + "/ev"
      val ev = Tables.events(s, dir).select(
        col("event_id"), col("user_id"), to_date(col("ts")).as("d"),
        col("event_type"), round(col("value"), 2).as("value"))
      val mid = lit(java.sql.Date.valueOf("2024-01-16"))
      SnapshotTable.append(ev.filter(col("d") < mid), tbl)
      SnapshotTable.append(ev.filter(col("d") >= mid), tbl)
      SnapshotTable.delete(s, tbl, col("user_id") === 42L)
      SnapshotTable.vacuum(tbl, keepVersions = 1)
      SnapshotTable.read(s, tbl)
    }),

    // ANALYZE-style table statistics: per column rows / nulls /
    // HLL-estimated NDV (one bounded m x cols register state — never
    // a per-column COUNT(DISTINCT) expand at scale) with the exact
    // NDV joined as audit. String-safe columns only (float formatting
    // diverges across engines)
    "q239_analyze_stats" -> ((s, dir) => {
      val ord = Tables.load(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_orderpriority"),
        expr("CAST(o_orderdate AS DATE)").as("o_date"))
      Profile.analyzeTable(ord,
        Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_orderpriority", "o_date"))
    }),

    // point-in-time enrichment against the SCD2 dimension: events
    // join the user's segment AS OF the event timestamp — the
    // correctness property naive current-row joins violate (training
    // data leakage: a Feb migration must not relabel Jan events).
    // Dim versions broadcast; one fact scan, the interval predicate
    // evaluated post-probe on key equality
    "q238_scd2_enrich" -> ((s, dir) => {
      import graft.sources.Scd2
      val tbl = scratchDir("graft_q238") + "/dim"
      val cust = Tables.load(s, dir, "customer")
      val b1 = cust.select(col("c_custkey"),
        col("c_mktsegment").as("seg"),
        lit(java.sql.Date.valueOf("2024-01-01")).as("eff"))
      val b2 = cust.select(col("c_custkey"),
        when(col("c_custkey") % 3 === 0, lit("MIGRATED"))
          .otherwise(col("c_mktsegment")).as("seg"),
        lit(java.sql.Date.valueOf("2024-01-16")).as("eff"))
      Scd2.upsertBatch(s, tbl, b1, "c_custkey", Seq("seg"), "eff", "dim", 1L)
      Scd2.upsertBatch(s, tbl, b2, "c_custkey", Seq("seg"), "eff", "dim", 2L)
      val dim = graft.sources.SnapshotTable.read(s, tbl)
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), to_date(col("ts")).as("d"))
      ev.join(broadcast(dim),
          col("user_id") === col("c_custkey")
            && col("valid_from") <= col("d")
            && (col("valid_to").isNull || col("d") < col("valid_to")),
          "left")
        .groupBy(col("seg"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
    }),

    // SCD2 dimension maintenance: two full snapshot batches (Jan:
    // original segments; Feb: every third customer migrates), each
    // applied as close-changed-keys MERGE + insert-new-versions
    // append under one idempotence scope. Unchanged keys must NOT
    // version; the oracle replays the history with lag-dedupe + lead
    // windows over the batch union
    "q237_scd2" -> ((s, dir) => {
      import graft.sources.Scd2
      val tbl = scratchDir("graft_q237") + "/dim"
      val cust = Tables.load(s, dir, "customer")
      val b1 = cust.select(col("c_custkey"),
        col("c_mktsegment").as("seg"),
        lit(java.sql.Date.valueOf("2024-01-01")).as("eff"))
      val b2 = cust.select(col("c_custkey"),
        when(col("c_custkey") % 3 === 0, lit("MIGRATED"))
          .otherwise(col("c_mktsegment")).as("seg"),
        lit(java.sql.Date.valueOf("2024-02-01")).as("eff"))
      Scd2.upsertBatch(s, tbl, b1, "c_custkey", Seq("seg"), "eff", "dim", 1L)
      Scd2.upsertBatch(s, tbl, b2, "c_custkey", Seq("seg"), "eff", "dim", 2L)
      // open versions project the 9999-12-31 sentinel: a NULL DATE
      // round-trips as None vs NaT across the two engines' pandas
      // paths — representation noise, not semantics
      graft.sources.SnapshotTable.read(s, tbl)
        .select(col("c_custkey"), col("seg"), col("valid_from"),
          coalesce(col("valid_to"),
            lit(java.sql.Date.valueOf("9999-12-31"))).as("valid_to"),
          col("is_current"))
    }),

    // incrementally-maintained JOIN view (the join sibling of q117's
    // rollup): V = orders ⋈ customer kept fresh across three
    // interleaved source commits by the delta-join identity
    // ΔV = ΔA⋈B_new ∪ A_old⋈ΔB (the cross term counted exactly once),
    // delivery guarded by ONE combined monotone txn cursor. The
    // commit structure must not leak: the view read hash-matches the
    // one-shot relational join
    "q236_join_view" -> ((s, dir) => {
      import graft.sources.{JoinView, SnapshotTable}
      val base = scratchDir("graft_q236")
      val (ta, tb, tv) = (base + "/ord", base + "/cust", base + "/view")
      val ord = Tables.load(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        expr("CAST(o_orderdate AS DATE)").as("o_date"),
        round(col("o_totalprice"), 2).as("price"))
      val cust = Tables.load(s, dir, "customer").select(
        col("c_custkey").as("o_custkey"), col("c_name"),
        col("c_mktsegment"))
      val midC = 700L
      SnapshotTable.append(ord.filter(col("o_orderkey") % 2 === 0), ta)
      SnapshotTable.append(cust.filter(col("o_custkey") < midC), tb)
      JoinView.maintain(s, tv, ta, tb, "o_custkey")   // bootstrap
      SnapshotTable.append(ord.filter(col("o_orderkey") % 2 === 1), ta)
      JoinView.maintain(s, tv, ta, tb, "o_custkey")   // ΔA leg
      SnapshotTable.append(cust.filter(col("o_custkey") >= midC), tb)
      JoinView.maintain(s, tv, ta, tb, "o_custkey")   // ΔB leg
      SnapshotTable.read(s, tv)
        .select(col("o_orderkey"), col("o_custkey"), col("o_date"),
          col("price"), col("c_name"), col("c_mktsegment"))
    }),

    // column mapping — rename WITHOUT rewrite (the Delta column-
    // mapping contract): the physical->logical map rides the
    // versioned constraints machinery, files keep physical names
    // forever, readers alias at scan end, writers alias incoming
    // logical batches back. Lifecycle in-gate: append half, rename
    // o_totalprice -> price (metadata-only), append the second half
    // UNDER THE NEW NAME, delete on a logical-name predicate, read.
    // The oracle is the orders slice with the same alias + filter —
    // it fails if the rename rewrote/renulled a column or the
    // post-rename append landed under the wrong physical name
    "q235_column_rename" -> ((s, dir) => {
      import graft.sources.SnapshotTable
      val tbl = scratchDir("graft_q235") + "/t"
      val ord = Tables.load(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        expr("CAST(o_orderdate AS DATE)").as("o_date"),
        round(col("o_totalprice"), 2).as("o_totalprice"),
        col("o_orderpriority"))
      SnapshotTable.append(ord.filter(col("o_orderkey") % 2 === 0), tbl)
      SnapshotTable.renameColumn(tbl, "o_totalprice", "price")
      SnapshotTable.append(
        ord.filter(col("o_orderkey") % 2 === 1)
          .withColumnRenamed("o_totalprice", "price"), tbl)
      SnapshotTable.delete(s, tbl, col("price") < 20000.0)
      SnapshotTable.read(s, tbl)
        .select(col("o_orderkey"), col("o_custkey"), col("o_date"),
          col("price"), col("o_orderpriority"))
    }),

    // snapshot-table RESTORE + shallow CLONE lifecycle (the Delta
    // rollback/branching pair): two appends, a copy-on-write DELETE
    // that removes the urgent orders, restore back to the pre-delete
    // version (a metadata-only commit — no data rewrite), then a
    // shallow clone (hardlinked files, zero bytes copied, fresh
    // history). The clone must read exactly the pre-delete table —
    // the oracle is the full orders slice, which FAILS if the delete
    // survived restore or the clone mis-referenced a file
    "q219_restore_clone" -> ((s, dir) => {
      import graft.sources.SnapshotTable
      val base = scratchDir("graft_q219")
      val tbl = base + "/t"
      val cl = base + "/clone"
      val ord = Tables.load(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        expr("CAST(o_orderdate AS DATE)").as("o_date"),
        col("o_totalprice"), col("o_orderpriority"))
      val mid = lit(java.sql.Date.valueOf("1997-01-01"))
      SnapshotTable.append(ord.filter(col("o_date") < mid), tbl)
      val vPre = SnapshotTable.append(ord.filter(col("o_date") >= mid), tbl)
      SnapshotTable.delete(s, tbl, col("o_orderpriority") === "1-URGENT")
      SnapshotTable.restore(tbl, vPre)
      SnapshotTable.cloneShallow(tbl, cl)
      SnapshotTable.read(s, cl)
        .select(col("o_orderkey"), col("o_custkey"), col("o_date"),
          round(col("o_totalprice"), 2).as("o_price"),
          col("o_orderpriority"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q64_snapshot_scan" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_price
        |FROM orders
        |WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q65_snapshot_merge" ->
      """WITH tgt AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderdate < DATE '1996-01-01'),
        |src AS (
        |  SELECT o_orderkey, o_totalprice * 2 AS new_price FROM tgt
        |  WHERE o_orderkey % 97 = 0),
        |merged AS (
        |  SELECT t.o_orderkey,
        |    CASE WHEN s.o_orderkey IS NOT NULL THEN s.new_price
        |         ELSE t.o_totalprice END AS price
        |  FROM tgt t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey
        |  WHERE s.o_orderkey IS NULL OR t.o_orderkey % 485 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 30000000, new_price FROM src)
        |SELECT count(*) AS n_rows, count(DISTINCT o_orderkey) AS n_keys,
        |  round(sum(price), 2) AS total_price
        |FROM merged""".stripMargin,

    // exact bigram counts at the 0.1% support threshold (cnt*1000 >=
    // total — the integer form of ceil(total/1000), no division): the
    // CMS estimates are collision-free on this fixture (930-type
    // universe vs a 20k x 5 grid), so value AND count hash-match
    "q98_cms_heavy_hitters" ->
      s"""$heavyBigramQuery""".stripMargin,

    // identical oracle to q98: the stream's cell-wise-merged CMS must
    // equal the one-pass batch sketch (documents all have >= 10
    // tokens, so ngramsAll(n=2) == the adjacent-pair construction)
    "q99_stream_heavy_hitters" ->
      s"""$heavyBigramQuery""".stripMargin,

    // the streaming monitor's per-day windows replayed relationally:
    // same dense-grid smoothing, reference = the whole table
    "q109_stream_psi" ->
      """WITH c AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |    least(CAST(floor(value / 32) AS BIGINT), 15) AS b
        |  FROM events),
        |ref AS (SELECT b, CAST(count(*) AS BIGINT) AS rc FROM c GROUP BY 1),
        |rt AS (SELECT CAST(sum(rc) AS BIGINT) AS t FROM ref),
        |days AS (SELECT d, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY 1),
        |grid AS (
        |  SELECT dy.d, dy.n, CAST(i.range AS BIGINT) AS b
        |  FROM days dy, range(16) i),
        |counts AS (SELECT d, b, CAST(count(*) AS BIGINT) AS c
        |  FROM c GROUP BY 1, 2),
        |terms AS (
        |  SELECT g.d, g.n,
        |    CAST(floor(1000000.0 * (
        |      ((CAST(coalesce(ct.c, 0) + 1 AS DOUBLE)
        |          / CAST(g.n + 16 AS DOUBLE))
        |       - (CAST(coalesce(r.rc, 0) + 1 AS DOUBLE)
        |          / CAST(rt.t + 16 AS DOUBLE)))
        |      * ln((CAST(coalesce(ct.c, 0) + 1 AS DOUBLE)
        |            / CAST(g.n + 16 AS DOUBLE))
        |          / (CAST(coalesce(r.rc, 0) + 1 AS DOUBLE)
        |            / CAST(rt.t + 16 AS DOUBLE)))))
        |      AS BIGINT) AS t
        |  FROM grid g
        |  LEFT JOIN counts ct ON g.d = ct.d AND g.b = ct.b
        |  LEFT JOIN ref r ON g.b = r.b
        |  CROSS JOIN rt)
        |SELECT d, CAST(sum(t) AS BIGINT) AS psi_micro, n AS n_rows
        |FROM terms GROUP BY d, n""".stripMargin,

    // q117: the maintained rollup must equal the one-shot aggregate
    // over raw events — per-row floor(value*1e6) BIGINTs, order-free.
    // q119 shares it: the exactly-once build with a REPLAYED batch
    // must also land on the one-shot aggregate (a leaked replay
    // doubles half the days — the oracle catches it as a hash miss)
    "q117_rollup_incremental" -> RollupOracleSql,

    "q119_rollup_exactly_once" -> RollupOracleSql,

    // q122: a bloom-pruned point lookup may only SKIP files — the
    // relational answer is the plain filter
    "q122_bloom_point_lookup" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE doc_id IN (11, 137, 263, 389)""".stripMargin,

    // q125: the MV-rewritten aggregate must land on the one-shot
    // aggregate over raw events — same bar as the view maintenance
    // itself (and the gate requires the rewrite to actually fire)
    "q125_rollup_rewrite" -> RollupOracleSql,

    // q199: the surviving rows are exactly the two valid slices — the
    // rejected batch must contribute NOTHING
    "q199_constraint_gate" ->
      """SELECT l_returnflag,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey % 3 = 0 OR l_orderkey % 3 = 2
        |GROUP BY 1""".stripMargin,

    // q205: the CDC disposition relationally — survivors keep or
    // double their price, %97==1 keys deleted, shifted inserts at
    // original price
    "q205_cdc_replication" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice FROM orders),
        |after AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice * 2
        |         ELSE o_totalprice END AS p
        |  FROM base WHERE o_orderkey % 97 <> 1
        |  UNION ALL
        |  SELECT o_orderkey + 90000000, o_totalprice
        |  FROM base WHERE o_orderkey % 97 = 0)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
        |  round(sum(p), 2) AS total_price
        |FROM after""".stripMargin,

    // q206: the full sketch replayed relationally — portable rolling
    // hash, two xorshift-multiply avalanche rounds, bucket/width-23
    // register split, per-day max(rho), range re-merge, raw-vs-
    // linear-counting estimate. Every float is dyadic or a
    // CAST-to-DOUBLE constant so the doubles match Spark's bit-exactly
    "q206_hll_sketch_rollup" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(user_id AS VARCHAR) || ':' ||
        |      CAST(CAST(ts AS DATE) AS VARCHAR) AS key
        |  FROM events),
        |h0 AS (
        |  SELECT event_type, d,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(key, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM ev),
        |h1 AS (SELECT event_type, d,
        |  (xor(h, h // 65536) * 73244475) % 4294967296 AS h FROM h0),
        |h2 AS (SELECT event_type, d,
        |  (xor(h, h // 65536) * 73244475) % 4294967296 AS h FROM h1),
        |h3 AS (SELECT event_type, d, xor(h, h // 65536) AS h FROM h2),
        |daily_reg AS (
        |  SELECT event_type, d, h % 128 AS bucket,
        |    max(CASE WHEN (h // 128) % 8388608 > 0
        |        THEN 24 - length(bin((h // 128) % 8388608))
        |        ELSE 24 END) AS rho
        |  FROM h3 GROUP BY 1, 2, 3),
        |merged AS (
        |  SELECT event_type, bucket, max(rho) AS rho FROM daily_reg
        |  WHERE d BETWEEN DATE '2024-01-08' AND DATE '2024-01-22'
        |  GROUP BY 1, 2),
        |est AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS active_buckets,
        |    sum(1.0 / CAST(1 << rho AS DOUBLE)) + (128 - count(*)) AS z,
        |    128 - count(*) AS v
        |  FROM merged GROUP BY 1),
        |exact AS (
        |  SELECT event_type, CAST(count(DISTINCT user_id || ':' ||
        |    CAST(CAST(ts AS DATE) AS VARCHAR)) AS BIGINT) AS exact_user_days
        |  FROM events
        |  WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-22'
        |  GROUP BY 1)
        |SELECT e.event_type, active_buckets,
        |  round(CASE WHEN (CAST(0.7213 AS DOUBLE) /
        |      (1 + CAST(1.079 AS DOUBLE) / 128)) * 16384 / z <= 320 AND v > 0
        |    THEN 128 * ln(128.0 / v)
        |    ELSE (CAST(0.7213 AS DOUBLE) /
        |      (1 + CAST(1.079 AS DOUBLE) / 128)) * 16384 / z END, 4)
        |    AS hll_user_days,
        |  exact_user_days
        |FROM est e JOIN exact x USING (event_type)""".stripMargin,

    // q209: the generated column is definitionally month(o_orderdate)
    "q209_generated_columns" ->
      """SELECT CAST(month(o_orderdate) AS BIGINT) AS o_month,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_price
        |FROM orders GROUP BY 1""".stripMargin,

    // q211: identical binning/rank arithmetic; min(struct) becomes
    // min_by over the first qualifying bin (arg-min on bin)
    "q211_histogram_quantile_rollup" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(floor(value * 1000000.0) AS BIGINT) AS vm
        |  FROM events),
        |binned AS (
        |  SELECT event_type, d, least(vm // 4000000, 249) AS bin
        |  FROM ev),
        |merged AS (
        |  SELECT event_type, bin, CAST(count(*) AS BIGINT) AS cnt
        |  FROM binned
        |  WHERE d BETWEEN DATE '2024-01-08' AND DATE '2024-01-22'
        |  GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, bin, cnt,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(cnt) OVER (PARTITION BY event_type) AS total
        |  FROM merged),
        |pcts AS (SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS pct),
        |ranked AS (SELECT c.*, p.pct, (total * pct + 99) // 100 AS r
        |           FROM cum c, pcts p),
        |hits AS (
        |  SELECT event_type, pct, min(bin) AS bin
        |  FROM ranked WHERE cum >= r GROUP BY 1, 2),
        |hist AS (
        |  SELECT rk.event_type, rk.pct,
        |    rk.bin * 4000000 + (rk.r - (rk.cum - rk.cnt)) * 4000000
        |      // rk.cnt AS hist_p_micro,
        |    CAST(rk.total AS BIGINT) AS n_obs
        |  FROM ranked rk JOIN hits h
        |    ON rk.event_type = h.event_type AND rk.pct = h.pct
        |   AND rk.bin = h.bin),
        |raw AS (
        |  SELECT event_type, vm, CAST(count(*) AS BIGINT) AS c
        |  FROM ev
        |  WHERE d BETWEEN DATE '2024-01-08' AND DATE '2024-01-22'
        |  GROUP BY 1, 2),
        |rcum AS (
        |  SELECT event_type, vm,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY vm
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY event_type) AS total
        |  FROM raw),
        |exact AS (
        |  SELECT event_type, pct, CAST(min(vm) AS BIGINT) AS exact_p_micro
        |  FROM rcum, pcts WHERE cum * 100 >= total * pct
        |  GROUP BY 1, 2)
        |SELECT event_type, pct,
        |  CAST(hist_p_micro AS BIGINT) AS hist_p_micro,
        |  exact_p_micro, n_obs
        |FROM hist JOIN exact USING (event_type, pct)""".stripMargin,

    // q218: merge-of-halves == direct bottom-k over the whole
    // (mergeability), so the oracle sketches directly; the q206 hash
    // chain, QUALIFY-style rank windows, pure BIGINT floor algebra
    "q218_theta_overlap" ->
      """WITH ev AS (
        |  SELECT DISTINCT event_type AS g,
        |    CAST(user_id AS VARCHAR) || ':' ||
        |      CAST(CAST(ts AS DATE) AS VARCHAR) AS key
        |  FROM events),
        |h0 AS (
        |  SELECT g, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(key, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM ev),
        |h1 AS (SELECT g, (xor(h, h // 65536) * 73244475) % 4294967296 AS h FROM h0),
        |h2 AS (SELECT g, (xor(h, h // 65536) * 73244475) % 4294967296 AS h FROM h1),
        |h3 AS (SELECT g, xor(h, h // 65536) AS hv FROM h2),
        |hd AS (SELECT DISTINCT g, hv FROM h3),
        |sk AS (
        |  SELECT g, hv FROM (
        |    SELECT g, hv, row_number() OVER (PARTITION BY g ORDER BY hv) AS rn
        |    FROM hd) WHERE rn <= 64),
        |stats AS (
        |  SELECT g,
        |    CASE WHEN count(*) < 64 THEN 4294967296 ELSE max(hv) END AS theta,
        |    CASE WHEN count(*) < 64 THEN CAST(count(*) AS BIGINT)
        |         ELSE 63 * 4294967296 // max(hv) END AS est_n
        |  FROM sk GROUP BY g),
        |mg AS (
        |  SELECT a.g AS g_a, b.g AS g_b, a.hv FROM sk a JOIN sk b ON a.g < b.g
        |  UNION
        |  SELECT a.g, b.g, b.hv FROM sk a JOIN sk b ON a.g < b.g),
        |us AS (
        |  SELECT g_a, g_b,
        |    CASE WHEN count(*) < 64 THEN CAST(count(*) AS BIGINT)
        |         ELSE 63 * 4294967296 // max(hv) END AS union_est
        |  FROM (SELECT g_a, g_b, hv, row_number()
        |          OVER (PARTITION BY g_a, g_b ORDER BY hv) AS rn FROM mg)
        |  WHERE rn <= 64 GROUP BY g_a, g_b),
        |cm AS (
        |  SELECT a.g AS g_a, b.g AS g_b, CAST(count(*) AS BIGINT) AS n_common
        |  FROM sk a JOIN sk b ON a.hv = b.hv AND a.g < b.g
        |  JOIN stats sa ON sa.g = a.g JOIN stats sb ON sb.g = b.g
        |  WHERE a.hv < least(sa.theta, sb.theta)
        |  GROUP BY 1, 2),
        |exn AS (SELECT g, CAST(count(*) AS BIGINT) AS n_ex FROM ev GROUP BY g),
        |exi AS (
        |  SELECT a.g AS g_a, b.g AS g_b, CAST(count(*) AS BIGINT) AS exact_int
        |  FROM ev a JOIN ev b ON a.key = b.key AND a.g < b.g
        |  GROUP BY 1, 2)
        |SELECT sa.g AS g_a, sb.g AS g_b, sa.est_n AS est_a, sb.est_n AS est_b,
        |  us.union_est,
        |  coalesce(cm.n_common, 0) * 4294967296
        |    // least(sa.theta, sb.theta) AS intersect_est,
        |  na.n_ex + nb.n_ex - coalesce(exi.exact_int, 0) AS exact_union,
        |  coalesce(exi.exact_int, 0) AS exact_intersect
        |FROM stats sa JOIN stats sb ON sa.g < sb.g
        |LEFT JOIN us ON us.g_a = sa.g AND us.g_b = sb.g
        |LEFT JOIN cm ON cm.g_a = sa.g AND cm.g_b = sb.g
        |LEFT JOIN exi ON exi.g_a = sa.g AND exi.g_b = sb.g
        |JOIN exn na ON na.g = sa.g JOIN exn nb ON nb.g = sb.g""".stripMargin,

    // q255: the versions replayed relationally (only price can
    // change, so the diff collapses to key+price algebra)
    "q255_snapshot_diff" ->
      """WITH v0 AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderdate < DATE '1996-01-01'),
        |v1 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice * 2
        |         ELSE o_totalprice END AS price
        |  FROM v0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice AS price FROM orders
        |  WHERE o_orderdate >= DATE '1996-01-01' AND o_orderkey % 199 = 0),
        |v2 AS (SELECT * FROM v1 WHERE o_orderkey % 485 <> 0),
        |d AS (
        |  SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
        |    CASE WHEN a.o_orderkey IS NULL THEN 'insert'
        |         WHEN b.o_orderkey IS NULL THEN 'delete'
        |         WHEN a.o_totalprice <> b.price THEN 'update' END AS change,
        |    a.o_totalprice AS oldp, b.price AS newp
        |  FROM v0 a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey)
        |SELECT o_orderkey, change, round(oldp, 2) AS old_price,
        |  round(newp, 2) AS new_price
        |FROM d WHERE change IS NOT NULL""".stripMargin,

    // q245: the complement — fails if the delete missed a row or a
    // rewrite duplicated one
    "q245_forget_user" ->
      """SELECT event_id, user_id, CAST(ts AS DATE) AS d, event_type,
        |  round(value, 2) AS value
        |FROM events WHERE user_id <> 42""".stripMargin,

    // q239: the q206 register chain per column over a stacked union;
    // exact NDV beside
    "q239_analyze_stats" ->
      """WITH stacked AS (
        |  SELECT 'o_orderkey' AS cname, CAST(o_orderkey AS VARCHAR) AS sval FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', o_orderstatus FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', o_orderpriority FROM orders
        |  UNION ALL
        |  SELECT 'o_date', CAST(CAST(o_orderdate AS DATE) AS VARCHAR) FROM orders),
        |basics AS (
        |  SELECT cname, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN sval IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_nulls,
        |    CAST(count(DISTINCT sval) AS BIGINT) AS ndv_exact
        |  FROM stacked GROUP BY 1),
        |h0 AS (
        |  SELECT cname, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(sval, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM stacked WHERE sval IS NOT NULL),
        |h1 AS (SELECT cname, (xor(h, h // 65536) * 73244475) % 4294967296 AS h FROM h0),
        |h2 AS (SELECT cname, (xor(h, h // 65536) * 73244475) % 4294967296 AS h FROM h1),
        |h3 AS (SELECT cname, xor(h, h // 65536) AS h FROM h2),
        |reg AS (
        |  SELECT cname, h % 128 AS bucket,
        |    max(CASE WHEN (h // 128) % 8388608 > 0
        |        THEN 24 - length(bin((h // 128) % 8388608))
        |        ELSE 24 END) AS rho
        |  FROM h3 GROUP BY 1, 2),
        |est AS (
        |  SELECT cname, CAST(count(*) AS BIGINT) AS active_buckets,
        |    sum(1.0 / CAST(1 << rho AS DOUBLE)) + (128 - count(*)) AS z,
        |    128 - count(*) AS v
        |  FROM reg GROUP BY 1),
        |hll AS (
        |  SELECT cname,
        |    round(CASE WHEN (CAST(0.7213 AS DOUBLE) /
        |        (1 + CAST(1.079 AS DOUBLE) / 128)) * 16384 / z <= 320 AND v > 0
        |      THEN 128 * ln(128.0 / v)
        |      ELSE (CAST(0.7213 AS DOUBLE) /
        |        (1 + CAST(1.079 AS DOUBLE) / 128)) * 16384 / z END, 4)
        |      AS ndv_est
        |  FROM est)
        |SELECT b.cname AS "column", b.n_rows, b.n_nulls,
        |  coalesce(h.ndv_est, 0.0) AS ndv_est, b.ndv_exact
        |FROM basics b LEFT JOIN hll h ON b.cname = h.cname""".stripMargin,

    // q238: the q237 history replay joined point-in-time; events of
    // users above the customer key space fall out as NULL segment
    "q238_scd2_enrich" ->
      s"""WITH b1 AS (
        |  SELECT c_custkey, c_mktsegment AS seg,
        |    DATE '2024-01-01' AS eff FROM customer),
        |b2 AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 3 = 0 THEN 'MIGRATED'
        |         ELSE c_mktsegment END AS seg,
        |    DATE '2024-01-16' AS eff FROM customer),
        |$allbDedupVersCtes
        |dim AS (
        |  SELECT c_custkey, seg, valid_from,
        |    lead(valid_from) OVER (PARTITION BY c_custkey
        |      ORDER BY valid_from) AS valid_to
        |  FROM vers),
        |ev AS (
        |  SELECT event_id, user_id, CAST(ts AS DATE) AS d FROM events)
        |SELECT d2.seg, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM ev e LEFT JOIN dim d2 ON e.user_id = d2.c_custkey
        |  AND d2.valid_from <= e.d
        |  AND (d2.valid_to IS NULL OR e.d < d2.valid_to)
        |GROUP BY 1""".stripMargin,

    // q237: the batch union lag-deduped per key (consecutive equal
    // snapshots spawn no version), valid_to = the next version's
    // valid_from via lead
    "q237_scd2" ->
      s"""WITH b1 AS (
        |  SELECT c_custkey, c_mktsegment AS seg,
        |    DATE '2024-01-01' AS eff FROM customer),
        |b2 AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 3 = 0 THEN 'MIGRATED'
        |         ELSE c_mktsegment END AS seg,
        |    DATE '2024-02-01' AS eff FROM customer),
        |$allbDedupVersCtes
        |fin AS (
        |  SELECT c_custkey, seg, valid_from,
        |    lead(valid_from) OVER (PARTITION BY c_custkey
        |      ORDER BY valid_from) AS valid_to
        |  FROM vers)
        |SELECT c_custkey, seg, valid_from,
        |  coalesce(valid_to, DATE '9999-12-31') AS valid_to,
        |  valid_to IS NULL AS is_current
        |FROM fin""".stripMargin,

    // q236: the one-shot join — commit structure cannot leak
    "q236_join_view" ->
      """SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS o_date,
        |  round(o_totalprice, 2) AS price, c_name, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin,

    // q235: the renamed projection + the delete's complement
    "q235_column_rename" ->
      """SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS o_date,
        |  round(o_totalprice, 2) AS price, o_orderpriority
        |FROM orders
        |WHERE NOT (round(o_totalprice, 2) < 20000.0)""".stripMargin,

    // q219: restore must undo the delete and the clone must reference
    // every restored file — the full pre-delete table is the oracle
    "q219_restore_clone" ->
      """SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS o_date,
        |  round(o_totalprice, 2) AS o_price, o_orderpriority
        |FROM orders""".stripMargin
  )

  /** One-shot daily rollup over raw events in per-row fixed-point —
    * the oracle BOTH incremental-rollup gates (q117 plain two-commit,
    * q119 exactly-once with a replayed batch) must land on.
    */
  private val RollupOracleSql =
    """SELECT CAST(ts AS DATE) AS d,
      |  CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT)
      |    AS total_micro,
      |  count(*) AS n
      |FROM events GROUP BY 1""".stripMargin

  /** CTEs `toks`, `bg`, `c` and the final SELECT shared by the q98 and q99
    * oracles.
    */
  private lazy val heavyBigramQuery: String =
    """WITH toks AS (
      |  SELECT string_split(trim(text), ' ') AS ws FROM documents),
      |bg AS (
      |  SELECT ws[i] || ' ' || ws[i+1] AS bigram
      |  FROM toks, unnest(generate_series(1, len(ws)-1)) AS t(i)),
      |c AS (
      |  SELECT bigram, CAST(count(*) AS BIGINT) AS cnt
      |  FROM bg GROUP BY 1)
      |SELECT bigram, cnt FROM c
      |WHERE cnt * 1000 >= (SELECT CAST(count(*) AS BIGINT) FROM bg)""".stripMargin

  /** CTEs `allb`, `dedup`, `vers` shared by the q237 and q238 oracles. */
  private lazy val allbDedupVersCtes: String =
    """allb AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2),
      |dedup AS (
      |  SELECT *, lag(seg) OVER (PARTITION BY c_custkey ORDER BY eff)
      |    AS prev
      |  FROM allb),
      |vers AS (
      |  SELECT c_custkey, seg, eff AS valid_from FROM dedup
      |  WHERE prev IS NULL OR seg <> prev),""".stripMargin
}
