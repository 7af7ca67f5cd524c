package graft

import java.nio.file.Files

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, GraftShim, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryProfile.Record
import graft.core.{Decontaminate, Dedup, Materialize, Similarity}
import graft.sources.SnapshotTable

/** Empirical scale probe: times each label of a battery on sf0.1 and on
  * a larger input, and prints the ratio. The point is the SCALING RATIO,
  * not the absolute numbers: linear operators should land near the data
  * growth (modulo fixed overhead), and nothing should blow up
  * quadratically. One positional variant picks the larger input:
  *
  *  - `10` (default): sf0.1 replicated 10x with shifted keys
  *    (`/tmp/graft_sf1`). Documents keep their text, so the corpus is
  *    heavily duplicated — a worst case for the dedup pack. Gated by
  *    `tools/check_probe.py` against `PROBE_BUDGET.json`.
  *  - `100`: the same replication a hundredfold (`/tmp/graft_sf10`),
  *    over a linear-by-design battery. Recorded, not gated.
  *  - `skew`: sf0.1 documents with 1% rewritten to one boilerplate
  *    template (`/tmp/graft_skew`) — a Zipfian web corpus, where one
  *    template lands every copy in the same shingle/band keys. Each row
  *    also reports its output rows; the heavy-stage task max/median is
  *    the skew criterion (no outlier beyond ~4x median).
  *
  * Each label warms once on sf0.1, then runs on both inputs through
  * [[QueryProfile.record]] inside a [[Materialize.scope]], and prints
  * `[scale-probe] <label> sf0.1=<s>s <10x|100x|skew>=<s>s ratio=<r>`
  * plus stages, shuffle bytes and the heavy stage's task max/median,
  * small -> large; a label that throws prints `<label> FAILED: <msg>`.
  *
  * Usage: runMain graft.ScaleProbe [10|100|skew] [label filter ...]
  * (a filter keeps the labels containing it). Honors `SPARK_GRAFT_CPUS`
  * like [[Bench]]. The larger input is written on first use.
  */
object ScaleProbe {

  private val Sf01 = "/root/testdata/sf0.1"
  private val BigDirs =
    Map("10" -> "/tmp/graft_sf1", "100" -> "/tmp/graft_sf10", "skew" -> "/tmp/graft_skew")

  def main(args: Array[String]): Unit = {
    val (variant, filters) = args.headOption.filter(BigDirs.contains)
      .fold(("10", args.toSeq))(v => (v, args.toSeq.tail))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Tables.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val big = BigDirs(variant)
    // documents are written last, so their presence means a whole input
    if (!new java.io.File(s"$big/documents.parquet").exists()) {
      println(s"[scale-probe] writing the $variant input at $big")
      if (variant == "skew") skewCorpus(spark, Sf01, big)
      else replicate(spark, Sf01, big, variant.toInt)
    }
    try probe(spark, variant, Sf01, big, filters) finally spark.stop()
  }

  /** Writes `factor` copies of each fact table of `src` to `out`, copy
    * `c`'s keys shifted by `c` x a base past the key range; dimension
    * tables are written once. */
  def replicate(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    def write(table: String, df: DataFrame): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$out/$table.parquet")
    Seq("customer", "supplier", "part", "nation", "region")
      .foreach(t => write(t, Tables.load(spark, src, t)))
    val copies = spark.range(factor).select(col("id").as("copy"))
    Seq(
      "lineitem" -> Map("l_orderkey" -> 10000000L),
      "orders" -> Map("o_orderkey" -> 10000000L),
      "events" -> Map("event_id" -> 10000000L, "user_id" -> 100L * factor),
      "embeddings" -> Map("vec_id" -> 1000000L),
      "documents" -> Map("doc_id" -> 1000000L)
    ).foreach { case (table, keyShifts) =>
      val copied = Tables.load(spark, src, table).crossJoin(copies)
      write(table, keyShifts.foldLeft(copied) { case (d, (c, base)) =>
        d.withColumn(c, col(c) + col("copy") * base)
      }.drop("copy"))
    }
  }

  private val Template = "the quick data table scans the fast hash join " +
    "over the sorted merge window while the stream packs the batch " +
    "rows into the vector group under the filter value column"

  /** `src`'s documents, every 100th doc's text replaced by one
    * boilerplate template (~1% of the corpus), written to `out`. */
  def skewCorpus(spark: SparkSession, src: String, out: String): Unit =
    Tables.documents(spark, src)
      .withColumn("text",
        when(col("doc_id") % 100 === 0, lit(Template)).otherwise(col("text")))
      .write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")

  /** Runs `variant`'s battery with `small` standing for sf0.1 and `big`
    * for the larger input, printing one line per label kept by
    * `filters` (every label when empty). Tables the rows create live
    * under one temp root, deleted when the run ends.
    */
  def probe(spark: SparkSession, variant: String, small: String, big: String,
      filters: Seq[String]): Unit = {
    val root = Files.createTempDirectory("graft_probe")
    try {
      val p = new Probe(spark, variant, small, big, filters, root.toString)
      if (variant == "skew") p.skewRows() else p.scaleRows()
    } finally FileUtils.deleteDirectory(root.toFile)
  }

  private final class Probe(root: SparkSession, variant: String,
      small: String, big: String, filters: Seq[String], tmp: String) {
    private val skew = variant == "skew"
    // skew rows: AQE partition coalescing off and 32 shuffle partitions,
    // whatever the core count — coalesced to 1-2 tasks an exchange hides
    // per-task skew; the production posture is many tasks per exchange,
    // where a hot key concentrates in one of them
    private val spark =
      if (!skew) root
      else {
        val s = GraftShim.cloneSession(root)
        s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        s.conf.set("spark.sql.shuffle.partitions", "32")
        s
      }
    private val bigName = if (skew) "skew" else s"${variant}x"

    private def selected(label: String) =
      filters.isEmpty || filters.exists(label.contains)

    private def tmpTable(prefix: String): String =
      Files.createTempDirectory(java.nio.file.Paths.get(tmp), prefix).toString + "/t"

    /** Runs `body` if `label` is selected; an exception ends the label,
      * not the run. */
    private def guarded(label: String)(body: => Unit): Unit =
      if (selected(label)) {
        try body
        catch { case NonFatal(e) => println(s"[scale-probe] $label FAILED: ${e.getMessage}") }
      }

    /** Warms `build` on `small`, then records it on `small` and `big`,
      * each in its own scope. Skew rows also count output rows. */
    private def row(label: String)(build: String => DataFrame): Unit = guarded(label) {
      val rows = mutable.Map.empty[String, Observation]
      def built(dir: String): DataFrame =
        if (!skew) build(dir)
        else {
          val o = Observation()
          rows(dir) = o
          build(dir).observe(o, count(lit(1)).as("rows"))
        }
      Materialize.scope(built(small).write.format("noop").mode("overwrite").save())
      val s = Materialize.scope(QueryProfile.record(spark, label, built, small))
      val b = Materialize.scope(QueryProfile.record(spark, label, built, big))
      def secs(r: Record) = (r.buildMs + r.planMs + r.execMs) / 1e3
      val counted =
        if (skew) s" rows=${rows(small).get("rows")}->${rows(big).get("rows")}" else ""
      println(f"[scale-probe] $label%-22s sf0.1=${secs(s)}%6.2fs " +
        f"$bigName=${secs(b)}%7.2fs ratio=${secs(b) / secs(s)}%5.1f" + counted +
        s" stages=${s.stages}->${b.stages}" +
        s" shuffle_bytes=${s.shuffleWriteBytes}->${b.shuffleWriteBytes}" +
        s" heavy_ms=${s.heavyStageMaxMs}/${s.heavyStageMedianMs}" +
        s"->${b.heavyStageMaxMs}/${b.heavyStageMedianMs}")
    }

    private def embeddings(dir: String) = Tables.embeddings(spark, dir)
    private def documents(dir: String) = Tables.documents(spark, dir)
    /** copy-0 slice of the replicated input (replicas shift ids by 1e6) */
    private def copy0(c: String) = col(c) < 1000000L
    private def centroids(df: DataFrame, mod: Long) =
      df.filter(col("vec_id") % mod === 3)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
    /** the two-level assignment's coarse modulus, sqrt-scaled with the
      * input (388 at sf0.1) so both stages stay n·sqrt(B) */
    private def coarseMod(dir: String): Long =
      if (dir == big) math.round(388 * math.sqrt(variant.toDouble)) else 388L

    def scaleRows(): Unit = {
      val tenX = variant == "10"
      (if (tenX) TenX else HundredX).foreach(q => row(q)(SparkEntry.queries(q)(spark, _)))
      if (tenX) tenXRows()
      sharedRows()
      if (!tenX) hundredXRows()
    }

    /** The scale-path variants of gate queries whose parameterization
      * grows with the corpus, and the lakehouse ops.
      */
    private def tenXRows(): Unit = {
      // the scale paths of the two exact baselines that are (by design)
      // quadratic on a duplicate-heavy corpus
      row("jaccard maxDf=30") { dir =>
        Dedup.ngramJaccardPairs(documents(dir), "doc_id", "text",
          n = 3, threshold = 0.2, maxDf = 30)
      }
      // q80 with the encode boundary MATERIALIZED as a SnapshotTable
      // (the shape a run whose encode output exceeds memory uses) vs the
      // in-line form — PLANS.md "q80 encode boundary" records the
      // crossover reasoning from these two numbers
      row("q80 enc=table") { dir =>
        graft.queries.TokenizePackQueries.corpusToSequences(spark, dir,
          encodeTable = Some(tmpTable("probe_encmat")))
      }
      row("lsh L=4 multiProbe=1") { dir =>
        Similarity.lshNearDupPairs(embeddings(dir),
          threshold = 0.4, nTables = 4, multiProbe = 1)
      }
      // q49's gate config derives centroids from the corpus (k grows with
      // n -> O(n*k) probe ratio is a parameterization artifact). With k
      // FIXED (copy-0 centroids only) the assignment is linear:
      row("ivf assign k=const") { dir =>
        val emb = embeddings(dir)
        Similarity.assignBuckets(emb, centroids(emb.filter(copy0("vec_id")), 97))
          .select("vec_id", "bucket")
      }
      // decontamination with a FIXED eval set (copy-0 slice only): the
      // production shape — benchmark sets don't grow with the corpus
      row("decontam eval=const") { dir =>
        val d = documents(dir)
        Decontaminate.flagContaminated(d.filter(col("doc_id") % 10 =!= 0),
          d.filter(col("doc_id") % 10 === 0 && copy0("doc_id")), "doc_id", "text", n = 5)
          .select(col("doc_id"), col("n_hits"), col("contaminated"))
      }
      // BM25 with a FIXED query set (copy-0 queries): the production
      // shape — retrieval query sets don't grow with the corpus. The
      // gate's q101 parameterization scales BOTH sides (doc_id%100), so
      // its probe ratio carries the corpus x queries product by design.
      def bm25(dir: String, k: Int) = {
        val d = documents(dir)
        graft.core.Retrieval.bm25TopK(d.filter(col("doc_id") % 100 =!= 0),
          d.filter(col("doc_id") % 100 === 0 && copy0("doc_id")), k = k)
      }
      row("bm25 q=const")(bm25(_, 10))
      // hybrid RRF with a FIXED query set (copy-0 queries): both arms
      // become linear corpus scans and fusion stays O(queries x k)
      row("rrf q=const") { dir =>
        val emb = embeddings(dir)
        val dense = Similarity.cosineTopK(
            emb.filter(col("vec_id") % 100 === 0 && copy0("vec_id")),
            emb.filter(col("vec_id") % 100 =!= 0), k = 20)
          .withColumnRenamed("neighbor_id", "doc_id")
        graft.core.Retrieval.rrfFuse(Seq(bm25(dir, 20), dense), k = 10)
      }
      // ADC with a FIXED query set (copy-0 queries): corpus side scales,
      // query side doesn't
      row("pq adc q=const") { dir =>
        val emb = embeddings(dir)
        val model = graft.core.ProductQuantizer.hashCodebooks(8, 16, 8)
        graft.core.ProductQuantizer.adcTopK(
          emb.filter(col("vec_id") % 50 === 1 && copy0("vec_id")),
          graft.core.ProductQuantizer.encode(emb, model), model, k = 10)
      }
      // SemDeDup with FIXED k (copy-0 centroids): one literal-centroid
      // scan + bucket self-join. On the 10x replica corpus every vector
      // has 10 true duplicates, so within-cluster pair OUTPUT grows ~10x
      // per copy — linear in the duplication level, not n².
      row("semdedup k=const") { dir =>
        import spark.implicits._
        val emb = embeddings(dir)
        val cents = emb
          .filter(col("vec_id") % 97 === 3 && copy0("vec_id"))
          .orderBy("vec_id")
          .select(col("embedding").cast("array<double>"))
          .as[Array[Double]].collect()
        val model = graft.ml.KMeansTrainer.KMeansModel(cents, Nil, 0, cosine = true)
        Similarity.semDedup(emb, model, tau = 0.82)
      }
      // incremental index dedup with a FIXED batch (copy-0 slice): the
      // production shape — the index is built ONCE (outside the timing,
      // as in production), per-batch cost is the index scan + broadcast
      // probe, never a corpus-shingle recompute
      val bandIndex = mutable.Map.empty[String, String]
      guarded("index dedup b=const") {
        Seq(small, big).foreach { dir =>
          bandIndex(dir) = tmpTable("probe_bidx")
          Materialize.scope(Dedup.writeBandIndex(
            documents(dir).filter(col("doc_id") % 3 =!= 1),
            "doc_id", "text", bandIndex(dir)))
        }
      }
      row("index dedup b=const") { dir =>
        Dedup.dedupAgainstIndex(spark,
          documents(dir).filter(col("doc_id") % 3 === 1 && copy0("doc_id")),
          bandIndex(dir), "doc_id", "text", minEstJaccard = 0.5)
      }

      // lakehouse ops: write is linear in new data; the PRUNED ops must
      // scale with matching files, not table size. The table is range-
      // clustered on o_orderdate, so one month opens a constant FRACTION
      // of files at any scale. Each write pushes a table and each delete
      // pops one, so the warm-up delete leaves the measured one a month.
      val tables = mutable.Map.empty[String, List[String]].withDefaultValue(Nil)
      row("snap clustered write") { dir =>
        val t = tmpTable("probe_snap")
        tables(dir) ::= t
        SnapshotTable.append(Tables.load(spark, dir, "orders")
          .repartitionByRange(32, col("o_orderdate")), t)
        spark.emptyDataFrame
      }
      row("snap pruned scan") { dir =>
        spark.read.format("graft-snapshot").load(tables(dir).head)
          .filter(col("o_orderdate") >= lit("1996-03-01") &&
            col("o_orderdate") < lit("1996-04-01"))
          .agg(count(lit(1)))
      }
      guarded("snap pruned scan") {
        // o_orderdate rewrites as TIMESTAMP_MICROS on append: bounds in
        // micros (1996-03-01 / 1996-04-01), matching the footer stats
        val us = 86400L * 1000000L
        for (dir <- Seq(small, big); t <- tables(dir).headOption) {
          val total = SnapshotTable.filesForRead(t).size
          val pruned = SnapshotTable.filesForRead(t, prune = Seq(SnapshotTable
            .ColRange("o_orderdate", Some(9556L * us), Some(9587L * us)))).size
          println(s"[scale-probe]   pruned scan on $dir: $pruned of $total files")
        }
      }
      row("snap delete month") { dir =>
        val t = tables(dir).head
        tables(dir) = tables(dir).tail
        SnapshotTable.delete(spark, t,
          col("o_orderdate") >= lit("1997-06-01") && col("o_orderdate") < lit("1997-07-01"))
        spark.emptyDataFrame
      }
    }

    /** Production-shape rows of both replication factors. */
    private def sharedRows(): Unit = {
      // edit-distance near-dup: q281's exact path multiplies posting-list
      // pairs quadratically on a replicated corpus; maxDf is the linear
      // scale path — the q95 contract
      row("editdist maxDf=64") { dir =>
        val docs = documents(dir).select(col("doc_id"),
          lower(substring(trim(col("text")), 1, 40)).as("key"))
        Dedup.editNearDupPairs(docs, "doc_id", "key", k = 2, q = 3, maxDf = 64)
      }
      // the PERSISTED semantic-index faces at production shape: the eval
      // suite is the FIXED sf0.1 slice (model-size by contract), only the
      // training side scales — the q330 incremental fold (index appends
      // + two per-version screens) and the q331 IVF exact face (every
      // bucket probed, per-task state one bucket). Index creation is
      // inside the timing: the append IS the incremental op's cost.
      row("semantic incr eval=const") { dir =>
        val t = tmpTable("probe_semincr")
        val ev = embeddings(small)
        val train = embeddings(dir).filter(col("vec_id") % 10 =!= 0)
        val d1 = Decontaminate.flagContaminatedEmbeddingIncremental(spark, train,
          ev.filter(col("vec_id") % 20 === 0), t, threshold = 0.42)
        val d2 = Decontaminate.flagContaminatedEmbeddingIncremental(spark, train,
          ev.filter(col("vec_id") % 20 === 10), t, threshold = 0.42)
        d1.unionByName(d2)
      }
      row("semantic ivf eval=const") { dir =>
        val t = tmpTable("probe_semivf")
        val ev = embeddings(small)
        Decontaminate.writeEvalEmbeddingIndex(
          ev.filter(col("vec_id") % 10 === 0), "vec_id", "embedding", t)
        Decontaminate.flagContaminatedEmbeddingIvf(spark,
          embeddings(dir).filter(col("vec_id") % 10 =!= 0),
          t, centroids(ev, 97), threshold = 0.42, nProbe = 0)
      }
      // two-level assignment with C ~ sqrt(B): the coarse modulus grows
      // as the sqrt of the input (388 at sf0.1 -> 1227 at 10x, 3880 at
      // 100x), so BOTH stages are n·sqrt(B) — the curve that replaces the
      // flat n x B cross at corpus-growing bucket counts
      row("hier assign C=sqrt") { dir =>
        val emb = embeddings(dir)
        Similarity.assignBucketsHierarchical(emb, centroids(emb, coarseMod(dir)),
          centroids(emb, 97), wProbe = 2)
      }
    }

    private def hundredXRows(): Unit = {
      // semantic decontamination at its PRODUCTION shape: the training
      // side scales, the eval suite stays the sf0.1 slice (model-size by
      // contract) — one broadcast cross + map-side-combinable argmax,
      // linear in train rows
      row("semantic decontam fixed-eval") { dir =>
        Decontaminate.flagContaminatedEmbedding(
          embeddings(dir).filter(col("vec_id") % 10 =!= 0),
          embeddings(small).filter(col("vec_id") % 10 === 0),
          threshold = 0.42)
      }
      // q303's bucketed LOF has two tunable cost components: assignment
      // (n x B brute-force cross — the q49 artifact, probed linear with
      // fixed k in the 10x battery) and candidate pairs (n x nProbe x
      // avg bucket). The gate's B = n/97 keeps candidates linear but
      // makes assignment n²/97; fixed B keeps assignment linear but grows
      // buckets 100x. The balanced sqrt-style point — centroids from
      // copies 0-9 only, B ~ 10x, buckets ~ 10x — bounds BOTH components
      // at ~sqrt growth, the two-level-IVF operating point a 100 TB
      // deployment would pick
      row("lof bucketed B=sqrt") { dir =>
        val emb = embeddings(dir)
        Similarity.lofBucketed(emb,
          centroids(emb.filter(col("vec_id") < 10000000L), 97), k = 5, nProbe = 2)
      }
      // the scale-safe DEFAULT parameterization: B ∝ n (fine modulus
      // fixed at 97 -> expected bucket size stays ~97, candidate pairs
      // stay ~n·nProbe·97 = LINEAR), assignment through the two-level
      // prober so no n×B flat cross ever runs. Contrast with "lof
      // bucketed B=sqrt" above, whose pair count grows ~n^1.5
      row("lof two-level B∝n") { dir =>
        val emb = embeddings(dir)
        Similarity.lofBucketedTwoLevel(emb, centroids(emb, coarseMod(dir)),
          centroids(emb, 97), k = 5, nProbe = 2, wProbe = 2)
      }
      // pair-count linearity evidence for the row above: candidate pairs
      // = Σ_b |probe(b)|·|home(b)| from the two-level probe relation,
      // reported at both scales so the LINEAR claim is a measured number
      guarded("lof pairs B∝n") {
        def pairCount(dir: String): Long = Materialize.scope {
          val emb = embeddings(dir)
          val ranked = Similarity.probeBucketsHierarchical(emb,
            centroids(emb, coarseMod(dir)), centroids(emb, 97), wProbe = 2, nProbe = 2)
          val home = ranked.filter(col("rnk") === 1)
            .groupBy("cid").agg(count(lit(1)).as("h"))
          val probe = ranked.groupBy("cid").agg(count(lit(1)).as("p"))
          probe.join(home, "cid")
            .agg(sum(col("p") * col("h")).as("pairs"))
            .collect()(0).getLong(0)
        }
        val (s, b) = (pairCount(small), pairCount(big))
        println(f"[scale-probe] lof pairs B∝n          sf0.1=$s%d pairs " +
          f"$bigName=$b%d pairs ratio=${b.toDouble / s}%6.1f")
      }
    }

    /** The dedup family and the hot-key joins on the skewed corpus. The
      * caps must keep candidate generation bounded: without them the hot
      * template alone yields (1% x N)^2 / 2 pairs; the UNCAPPED rows pin
      * what each cap is buying.
      */
    def skewRows(): Unit = {
      def lsh(dir: String, maxBandSize: Int) =
        Dedup.lshCandidates(documents(dir), "doc_id", "text", k = 8,
          rowsPerBand = 2, n = 3, minEstJaccard = 0.25, maxBandSize = maxBandSize)
      row("q94 lsh capped")(lsh(_, 2))
      row("q94 cap=32")(lsh(_, 32))
      row("q94 UNCAPPED")(lsh(_, Int.MaxValue))
      row("q95 jaccard maxDf") { dir =>
        Dedup.ngramJaccardPairs(documents(dir), "doc_id", "text",
          n = 3, threshold = 0.2, maxDf = 4)
      }
      // a true-dup clique's OUTPUT is m²/2 pairs, so no lossless plan
      // holds it flat — maxDf (above) is the documented scale path
      row("q19 jaccard UNCAPPED") { dir =>
        Dedup.ngramJaccardPairs(documents(dir), "doc_id", "text", n = 3, threshold = 0.2)
      }
      // bloom decontamination with a boilerplate shingle on BOTH sides
      // of the verify join: the template docs all fall in the eval slice
      // (doc_id % 10 == 0), so ~1% of train docs get the template too.
      // The bloom probe is projection-only; the exact verify join gets
      // the hot group and must hold the heavy stage's task max/median
      row("q315 bloom decontam") { dir =>
        val d = documents(dir).withColumn("text",
          when(col("doc_id") % 100 === 1, lit(Template)).otherwise(col("text")))
        Decontaminate.flagContaminatedBloom(
          d.filter(col("doc_id") % 10 =!= 0), d.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", n = 5, minHits = 1, numBits = 1 << 18, numHashes = 4)
          .agg(sum(col("n_hits")), sum(col("n_candidates")))
      }
      // ExactSubstr under boilerplate: the hot template's grams each
      // occur ~1% × N times. The grouped count + semi join must hold the
      // heavy stage's task max/median flat vs base (the hot key arrives
      // pre-collapsed at the reducer; the probe-side join rows stream
      // and AQE can split them)
      row("exactSubstr m=12") { dir =>
        graft.core.SuffixArray.exactSubstrDedup(documents(dir), "doc_id", "text", minLen = 12)
      }
      row("exactSubstr hashed") { dir =>
        graft.core.SuffixArray.exactSubstrDedup(documents(dir), "doc_id", "text",
          minLen = 12, hashGrams = true)
      }
      row("q70 index dedup") { dir =>
        val d = documents(dir)
        val t = tmpTable("skew_q70")
        Dedup.writeBandIndex(d.filter(col("doc_id") % 3 === 0), "doc_id", "text", t)
        Dedup.writeBandIndex(d.filter(col("doc_id") % 3 === 2), "doc_id", "text", t)
        Dedup.dedupAgainstIndex(spark, d.filter(col("doc_id") % 3 === 1), t,
          "doc_id", "text", minEstJaccard = 0.5)
      }
      // prefix-filtered Jaccard under the same template clique: lossless
      // prefix filtering cannot beat a true-dup clique (its OUTPUT is
      // m²/2 pairs); a cap BELOW the clique size must drop the clique's
      // candidates and hold the heavy stage flat. The clique here is ~50
      // clones (1% of the corpus), so maxDf=16 bites (the q261 gate's 64
      // deliberately does NOT bite on the driver corpus — that gate pins
      // losslessness, this row pins the drop).
      row("prefix capped df16") { dir =>
        Dedup.prefixJaccardPairs(documents(dir), "doc_id", "text",
          n = 3, threshold = 0.6, maxDf = 16)
      }
      row("q253 prefix UNCAPPED") { dir =>
        Dedup.prefixJaccardPairs(documents(dir), "doc_id", "text", n = 3, threshold = 0.6)
      }
      // BM25 under a STOP-WORD-scale posting: one term planted in HALF
      // the training docs; `dir` only selects whether the queries carry
      // it. Without it the term's postings die in the scan against the
      // broadcast query-term semi join; with it ~N/2 postings of ONE term
      // flow through tf/df and the term-keyed df join, and the heavy
      // stage's task max/median must hold near ~4x
      row("q101 bm25 hot term") { dir =>
        val d = documents(small).withColumn("text",
          when(col("doc_id") % 2 === 0, concat(col("text"), lit(" zzhotstop")))
            .otherwise(col("text")))
        val queries = d.filter(col("doc_id") % 100 === 0)
        graft.core.Retrieval.bm25TopK(d.filter(col("doc_id") % 100 =!= 0),
          if (dir == big) queries.withColumn("text", concat(col("text"), lit(" zzhotstop")))
          else queries,
          k = 10)
      }
      // item-item CF under a POWER USER: `dir` only selects whether
      // every 5th-part row of `small`'s baskets goes to ONE user (~20% of
      // rows, a ~4,000-item basket at sf0.1). Uncapped pair generation is
      // O(basket²) on that key; maxItemsPerUser must hold the heavy
      // stage's task max/median flat
      def interactions(dir: String) = {
        val o = Tables.load(spark, small, "orders").select(col("o_orderkey"), col("o_custkey"))
        val ui = Tables.load(spark, small, "lineitem")
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
        if (dir != big) ui
        else ui.withColumn("cust",
          when(pmod(col("part"), lit(5)) === 0, lit(7777L)).otherwise(col("cust")))
      }
      row("itemSim capped") { dir =>
        graft.core.Recommend.itemItemSim(interactions(dir), "cust", "part",
          minSupport = 2L, maxItemsPerUser = 500)
      }
      row("itemSim UNCAPPED") { dir =>
        graft.core.Recommend.itemItemSim(interactions(dir), "cust", "part", minSupport = 2L)
      }
    }
  }

  // the 10x battery: every gate query whose curve is documented
  private val TenX = Seq("q01_pricing_summary", "q06_user_daily",
    "q16_anomaly_features", "q19_ngram_jaccard", "q20_minhash_lsh",
    "q21_simhash", "q39_cosine_neardup", "q40_lsh_neardup",
    "q43_dedup_resolve",
    "q49_ivf_assign", "q50_lsh_candidates",
    // round-2 additions: corpus hygiene, PQ, range join. q52's eval
    // slice and q57's query count both grow with the corpus (gate
    // parameterization); fixed-size variants are probed below.
    "q52_decontaminate", "q53_repetition", "q54_pii_scrub",
    "q55_source_quota", "q56_pq_encode", "q57_pq_adc", "q58_range_join",
    "q59_strip_markup", "q60_hash_split", "q61_per_key_trend",
    "q62_trend_anomalies", "q63_profile",
    // round-3 additions. q67's gate centroid count grows with the
    // corpus (vec_id%97 — same artifact as q49) and q70's batch is a
    // corpus slice; fixed-parameter variants are probed below.
    "q67_semdedup", "q68_lm_score", "q69_dsir", "q70_index_dedup",
    // round-3 continuation: packing (global prefix sum must stay
    // two-phase), n-gram head, temperature mix, BPE (the 10x corpus
    // is replicated text, so the word dict — and training — stay
    // CONSTANT while encode scales with tokens)
    "q74_pack_map", "q75_pack_seqs", "q76_top_ngrams",
    "q77_temperature_mix", "q78_bpe_merges", "q79_pack_by_cost",
    // q80 composes curation (whose exact-Jaccard stage is
    // quadratic-by-design on this replicated corpus — see q19/q43
    // above and their maxDf-capped linear variants)
    "q80_corpus_to_sequences", "q81_epoch_shuffle",
    // round-4: real-image/audio decode is embarrassingly parallel —
    // one mapPartitions encode + one decode per row, no shuffle at
    // all; fixed-model BPE encode is the q78 shape minus training
    "q84_image_features", "q85_bpe_encode_fixed", "q86_audio_features",
    // round-4 continuation: real video frame decode (same shape as
    // q84, x frames per row); fixed-ensemble scoring is one codegen
    // projection + a broadcast-model UDF; the quantile gate is one
    // window exchange on source. q88's spine is constant-size (120
    // rows) — probed only to confirm flatness.
    "q88_prophet_yhat", "q89_isoforest_fixed", "q90_video_frames",
    "q91_quality_quantile_gate",
    // q85-shaped encode + one co-keyed join + one agg
    "q92_tokenizer_fertility",
    // two idempotent snapshot commits + offsets prefix sum per batch
    "q93_stream_pack",
    // round-5: the capped (linear-path) dedup variants — on this
    // replicated 10x corpus the caps are exactly the machinery that
    // keeps them off the quadratic curve the exact baselines ride;
    // q96 is dict-bounded (word types ~constant under replication)
    "q94_lsh_banded_cap", "q95_jaccard_maxdf", "q96_bpe_first_merge",
    // round-8: BM25 — one explode + pruned tf/df aggs; the query
    // SIDE also grows with the corpus (doc_id%100 slice), so the
    // matched join fans out ~linearly on this bounded vocabulary
    "q101_bm25_retrieval",
    // round-8 continuation: q103's gate shape rides q101's (both
    // sides scale — the corpus x queries product); the fixed-query
    // production shape is "rrf q=const" below. q104/q105 have FIXED
    // query sets in the gate itself (vec_id < 8 / < 4), so their
    // cost is the corpus-side scan/assign — linear by construction.
    "q103_hybrid_rrf", "q104_ann_recall", "q105_mmr_select",
    // q106 rides q43's exact-Jaccard candidate chain (quadratic by
    // design on the replicated corpus — the capped variants q94/q95
    // are the scale path; the survivor POLICY adds one linear agg).
    // q107 = one scan + the two-phase prefix sum under the priority
    // order; q108 = one (source, bucket) agg + a groups x 16 grid.
    "q106_dedup_keep_longest", "q107_token_budget", "q108_psi_drift",
    // q109 = q108's shape over event-time windows: one windowed agg
    // (16 conditional counters) + a stateless PSI projection
    "q109_stream_psi",
    // q110 = q74's map + one more agg (bounded per-seq slice lists)
    "q110_pack_boundaries",
    // round-8 continuation 2: q111 = q108's grid shape with integer
    // cumsums; q112's fit is one 128-agg scan and its gate query set
    // is FIXED (vec_id < 8) — corpus-side linear. q113 rides q72's
    // window-hash exchange plus a bounded explode (the replicated
    // corpus multiplies repeated-window groups, the q19/q43 exact
    // class); q114 = one explode + broadcast head-vocab join; q115's
    // both sides grow with the data (sessions x day-windows — the
    // per-day window count is fixed, so effectively linear); q116 =
    // two mapPartitions codec passes, the q84/q90 class
    "q111_ks_drift", "q112_sq8_ann", "q113_dup_span_scrub",
    "q114_oov_drift", "q115_session_overlap", "q116_image_resize",
    // q117 = one batch-side agg + two pruned merges — commit
    // machinery dominates at gate SF (the q93 class); the day-keyed
    // rollup is O(days), not O(rows)
    "q117_rollup_incremental",
    // q118 = q38's one-exchange session shape through the native
    // operator; q119 = q117 plus a no-op replay probe
    "q118_session_window", "q119_rollup_exactly_once",
    // round-8 continuation 3: q120 = one 64x int explode with
    // map-side combine into the groups x dim grid; q121 = the
    // two-phase weight-1 rank (the q107 class); q122 = write 8
    // indexed files + ONE hash pass over the new data — commit
    // machinery plus O(new data), the q117 class
    "q120_centroid_drift", "q121_length_batching",
    "q122_bloom_point_lookup",
    // q123 = 3 weight-1 two-phase ranks + id joins; q124 = one
    // mapPartitions pass with a per-partition word memo (the q85
    // encode class — Zipf words cost one segmentation each)
    "q123_rank_ensemble", "q124_wordpiece_encode",
    // q125 = the q117 build + an O(days) rewritten read — the MV
    // point: query cost is flat in corpus size once the view exists
    "q125_rollup_rewrite",
    // q126 = one sequence->explode->slice pass, fan-out ceil(n/48)
    // rows per doc — linear by construction
    "q126_chunk_windows",
    // q127 = posexplode + bounded span fan-out + per-DOC windows —
    // linear, no global exchange beyond the doc-keyed ones
    "q127_span_corrupt",
    // q128 = two mapPartitions codec passes, the q84/q90/q116 class
    "q128_image_augment",
    // round-8 continuation 6: q129/q130 = one-two codec passes +
    // (for q130) per-doc windows — the q84 class; q131's band join
    // inherits the replicated corpus's identical-hash groups (each
    // copy reproduces every group, and copies 4 apart share pixel
    // offsets mod 256 — pairs grow ~10-30x, the q19/q43 family;
    // maxBandSize is the documented cap). q132/q134 have FIXED
    // anchor sets (vec_id < 16 / < 12): corpus-side linear scans.
    "q129_audio_reverse", "q130_audio_vad", "q131_image_dhash_neardup",
    "q132_hard_negatives",
    // q133 = the q85/q124 encode class (word types constant under
    // replication, memo per partition); q135 = q74's prefix-sum
    // class under the rendered cost model
    "q133_unigram_encode", "q134_matryoshka_rerank",
    "q135_sft_pack_masks",
    // q136 rides q43's exact-Jaccard chain (quadratic by design on
    // the replicated corpus; the capped variants stay the scale
    // path) + one count and an id join
    "q136_cluster_weights",
    // q137/q138 = a handful of user-keyed filtered aggregates —
    // linear, filters push to the scan
    "q137_funnel", "q138_cohort_retention",
    // q139 = q131 with the 40-doc band cap: drops the identical-
    // hash mega-buckets that make q131 quadratic on the replicated
    // corpus — must ride the linear curve (the q94/q95 contract)
    "q139_dhash_neardup_capped",
    // q140 = q131's band machinery on audio fingerprints; tone
    // phases (id*31 mod 4093) survive the +1e6 id shift unevenly,
    // so groups replicate like q131's — measure, cap if needed
    "q140_audio_fingerprint_neardup",
    // q141 = session windows (user-keyed, first-5-pruned) + a rank
    // over the bounded path alphabet; q142 = one sort exchange per
    // event_type; q143 = per-type day-grid windows (day count is
    // FIXED by the data's time range — expect flat-ish); q144 =
    // token/bigram counts (linear) + a rank over the bounded
    // vocab^2 pair table
    "q141_session_paths", "q142_percentile_profile",
    "q143_cusum_changepoint", "q144_pmi_collocations",
    // q145 = two q142-class sort exchanges; q146 rides q43's exact
    // chain (the weights input) + a narrow hash filter
    "q145_mad_outliers", "q146_weighted_sample",
    // q147 = one as-of merge (two key exchanges) + a grouped count;
    // q148 = three independent column-pruned agg scans
    "q147_last_touch", "q148_column_profile",
    // q149 = one bigram count + ten broadcast joins of the bounded
    // jump table — count scan is the only corpus-sized work
    "q149_greedy_decode",
    // q150 = one text-keyed window + two grouped aggs — linear
    "q150_corpus_card",
    // q151-q154 = the eval family: one (or two) corpus aggregations
    // each, post-agg state bounded by the score lattice / label
    // alphabet — strictly linear by construction
    "q151_roc_auc", "q152_langid_confusion", "q153_calibration_bins",
    "q154_cohen_kappa",
    // q155 = one per-source window + a quarter-slice join;
    // q156 = the two-phase weight-1 global rank — both linear
    "q155_preference_pairs", "q156_curriculum_phases",
    // q157 = 5 bounded-vocab join+agg iterations over edges that
    // grow with distinct bigrams (constant under replication);
    // q158 = one daily agg + per-key row-local folds
    "q157_textrank", "q158_ewma",
    // q159 = entity-level blocked join (distinct names constant
    // under replication); q160 = one hash pass + per-group rank;
    // q161 = two grouped count aggs
    "q159_fuzzy_linkage", "q160_group_sample", "q161_zipf_spectrum",
    // q162 = one codegen'd string pass, zero exchanges
    "q162_nfc_normalize",
    // q163 = bounded-vocab rank; q164 = per-type rank exchange;
    // q165 = daily agg + row-local folds over day-bounded series
    "q163_vocab_coverage", "q164_winsorized_stats",
    "q165_autocorrelation",
    // q166 = encode+decode mapPartitions passes (word types constant
    // under replication); q167 = the q19 inverted-index family
    // (quadratic-by-design on the replicated corpus, maxDf = the
    // linear path); q168 = hash-keyed distinct + self-join
    "q166_bpe_decode", "q167_containment", "q168_cross_source_dups",
    // q169 = fixed 200-query panel x linear corpus scan;
    // q170 = per-source min-agg + source-bounded signature cross
    "q169_knn_label_eval", "q170_source_minhash",
    // q171 = IVF kNN graph (bucket-bounded candidates, linear) +
    // two linear vote rounds
    "q171_label_propagation",
    // q172/q173 ride the q19 jaccard-pair chain (quadratic on the
    // replicated corpus by design — q19's recorded family shape);
    // q174 = one two-phase offsets pass + per-L arithmetic
    "q172_split_leakage", "q173_dup_cluster_histogram",
    "q174_packing_sweep",
    // q175 = dim^2/2 fan-out per vector, model-size post-agg state;
    // q176 = q175 + fixed iterations over the 64x64 matrix (flat)
    "q175_embedding_covariance", "q176_pca_power",
    // q177 = one codegen'd pass; q178 = grouped counts + bounded-
    // vocab row-local folds
    "q177_gopher_gate", "q178_token_entropy",
    // q179 = bounded vocab x source grid; q180 = one grouped agg
    "q179_source_kl", "q180_dispersion",
    // q181 = the six-way star (facts shuffle once, dims broadcast)
    "q181_local_supplier_volume",
    // q182 = outer join + two-level agg; q183 = broadcast-filtered
    // fact self-agg join (both one fact shuffle)
    "q182_custdist", "q183_small_qty_revenue",
    // q184/q186 = one fact scan + broadcast dim; q185/q189 = fact
    // agg + one-row broadcast threshold; q187/q188 = facts meet on
    // one shuffled key, dims broadcast; q190 = dim-sized anti join;
    // q191 = per-order agg + join back (two fact shuffles)
    "q184_promo_share", "q185_top_supplier", "q186_disjunctive_join",
    "q187_nation_volume", "q188_market_share",
    "q189_part_concentration", "q190_dormant_rich",
    "q191_lone_return_supplier",
    // q192 = one codegen'd pass + unpivot; q193 = grouped user agg
    // + lattice quartiles; q194 = user-partitioned lead window;
    // q195 = per-type ordered fold
    "q192_rule_source_matrix", "q193_rfm_segments",
    "q194_markov_transitions", "q195_holt_smoothing",
    // q196 = per-type window + lattice quartiles; q197 = user-
    // bucketed self-join (alphabet-bounded fanout); q198 = label-
    // grouped centroids + broadcast join fold
    "q196_sax_symbols", "q197_cooccurrence_sim",
    "q198_embedding_outliers",
    // q199 = two appends + one enforcement agg + one rejected batch
    "q199_constraint_gate",
    // q200 = two grouped aggs + a 35-row broadcast join
    "q200_seasonality_strength",
    // q201 = lead window + lattice ranks; q202 = explode + two
    // grouped counts; q203 = per-type top-51 window
    "q201_dwell_times", "q202_ngram_novelty", "q203_hill_tail",
    // q204 = bigram explode + three vocab-bounded grouped aggs
    "q204_kneser_ney",
    // q205 = two appends + change-feed sync + one CDC merge
    "q205_cdc_replication",
    // q206 = register build (map-side-combined groupBy) + 2 appends
    "q206_hll_sketch_rollup",
    // q207 = per-order pair gen + support filter + oriented wedge join
    "q207_triangle_census",
    // q208 = per-stream lead window + grouped lattice + 15-row fold
    "q208_kaplan_meier",
    // q209 = two stamped appends + grouped readback
    "q209_generated_columns",
    // q210 = per-user lead window + model-size chain fold
    "q210_markov_attribution",
    // q211 = binned groupBy + 2 appends + 250-row-per-type rollup
    "q211_histogram_quantile_rollup",
    // q212 = rank windows + rank-equi join + model-size MM fold
    "q212_bradley_terry",
    // q213/q215 = date-straddle fact joins + TakeOrdered; q214 =
    // left-semi on the quarter's orders; q216 = per-order agg
    // feeding filter + output; q217 = one fact shuffle, key+prio dim
    "q213_shipping_priority", "q214_priority_exists",
    "q215_returned_customers", "q216_big_orders", "q217_priority_class",
    // q218 = distinct + rank exchange of (type, 8-byte hash) rows,
    // 2 appends; everything after runs on groups x k sketch rows
    "q218_theta_overlap",
    // q220 = one explode+agg code build per side, 8-byte Hamming
    // scan (fixed 12-query panel), exact re-rank on cands rows
    "q220_binary_quant_ann",
    // q219 = 2 appends + pruned CoW delete + metadata restore +
    // hardlink clone: data work bounded by the delete's candidates
    "q219_restore_clone",
    // q221 = q207's pair gen + 6x (grouped count + two semi joins)
    // on an only-shrinking integer edge set
    "q221_kcore",
    // q235 = 2 appends + metadata rename + pruned CoW delete
    "q235_column_rename",
    // q236 = 4 source appends + 3 delta-join refreshes (each scans
    // one delta x one side, never full x full)
    "q236_join_view",
    // q237 = 2 batches x (change-detect join + key-pruned close
    // merge + insert append)
    "q237_scd2",
    // q238 = q237's build + one fact scan against the broadcast dim
    "q238_scd2_enrich",
    // q239 = one stacked scan -> bounded m x cols registers +
    // exact-audit distinct
    "q239_analyze_stats",
    // q240 = q137's per-step filtered aggregates + 3-row spine math
    "q240_funnel_report",
    // q241 = one scan, filter dies in the scan stage, row-local
    // slices; q242 = edge x 8 id-only explode + rank join + anti
    "q241_context_windows", "q242_negative_edges",
    // q243 = user-bucketed pair gen under support cut + panel-
    // bounded scoring joins
    "q243_item_item_recs",
    // q244 = one grouped count + cumulative window over the
    // distinct-value lattice, 8-row bounds join
    "q244_equi_depth_hist",
    // q245 = 2 appends + key-pruned CoW delete + vacuum + read
    "q245_forget_user",
    // q246 = one grouped count + broadcast factor + narrow explode;
    // q247 = one rank window per label over id-hash keys
    "q246_oversample_balance", "q247_stratified_folds",
    // q248 = one (user, type) lead window + grouped integer mass
    "q248_time_weighted_avg",
    // q233 = one mapPartitions flatMap (codec-bound, zero
    // exchanges); q234 = the q101 BM25 chain with phrase queries
    "q233_image_patchify", "q234_retrieval_mrr",
    // q230 = rows x 200 explode map-side-combined to 200 replicate
    // rows; q231 = one user agg + one 6-number sufficient-stats agg;
    // q232 = two-phase prefix rank + 10-cell window
    "q230_bootstrap_ci", "q231_cuped", "q232_lift_table",
    // q225 = pushed-filter single scan; q226 = star, dims broadcast;
    // q227 = one fact (part,supp) agg + model-size min join; q228 =
    // broadcast grid join + anti + distinct; q229 = filtered fact
    // agg + broadcast total + semi
    "q225_revenue_delta", "q226_product_profit",
    "q227_min_cost_supplier", "q228_supplier_part_count",
    "q229_dominant_supplier",
    // q222 = one grouped count to a 9-row grid; q223 = one corpus
    // agg to four BIGINTs; q224 = daily groupBy + two shared
    // trailing windows over the per-type series
    "q222_benford", "q223_ab_ztest", "q224_burst_days",
    // round-10: q249 = one (group, score) agg + group-partitioned
    // lattice windows; q250 rides the q234 BM25 chain (both sides
    // scale on this corpus) + k-bounded nDCG algebra; q251 = ONE
    // grouped count over the QI key + spine algebra; q252 = daily
    // user grid + one per-user window; q254 = per-type day windows
    // (day count fixed by the data's range — expect flat-ish)
    "q249_group_auc", "q250_retrieval_ndcg", "q251_kanonymity",
    "q252_horizon_labels", "q254_stl_decompose",
    // q253 inherits the q19 family's replicated-corpus behavior: the
    // 10x corpus duplicates every doc 10x, so TRUE near-dup pairs
    // (and the verification work on them) grow ~100x by construction
    // — the quadratic lives in the OUTPUT, not the candidate scheme;
    // the prefix cut itself stays df-bounded
    "q253_prefix_jaccard",
    // q261 = the capped q253: maxDf drops hot prefix postings, so on
    // the replicated corpus the clique candidates vanish and only
    // the df-bounded rare-shingle work scales — expect the q95 curve
    "q261_prefix_jaccard_capped",
    // q255 = snapshot build (2 commits + CoW delete) + ONE key-
    // shuffled full-outer join of two snapshot scans; q256 = the
    // q224 daily-window class (day count fixed — expect flat-ish);
    // q257 = one map-side-combinable corpus agg to a k-row table
    "q255_snapshot_diff", "q256_rolling_median", "q257_anova",
    // q258's pair join runs on the (key, day) DAILY table — at 10x
    // events the calendar is unchanged, so pairs are ~flat and only
    // the first map-side-combined rollup scales; q259/q260 are
    // single map-side-combinable aggs to constant-size outputs
    "q258_theil_sen", "q259_did", "q260_mutual_info",
    // round-11: q262 = one grouped pivot + a generator; q263/q265 =
    // map-side-combinable aggs to grid/arm-bounded outputs (q265's
    // per-arm window is one exchange); q264 = the q19/q95 inverted-
    // index family with the df<=64 cap — expect the capped curve
    "q262_unpivot", "q263_chi2", "q264_tfidf_cosine_pairs",
    "q265_sprt",
    // round-12: q275 = one map-side-combinable 4-counter agg; q276
    // = the q207 basket join + a deg<=32-capped wedge self-join
    // (the maxDeg cap IS the quadratic guard — the q95 contract);
    // q277 = one projection + one per-stratum rank window
    "q275_mcnemar", "q276_adamic_adar", "q277_pps_sample",
    // q278 = k bounded driver argmax passes over a narrow projection
    // (no shuffle at all) — expect near-linear in corpus size
    "q278_kcenter_select",
    // q279 = one skeleton projection + one hash agg; q280 = q278 +
    // a k-wide broadcast cross + point-keyed argmin — both linear
    "q279_skeleton_dups", "q280_kcenter_assign",
    // round-12: distributed suffix array. Linear by construction at
    // every stage: log(maxDocLen) re-rank rounds over the position
    // table, candidates are SA-ADJACENT pairs only (n-1 rows — the
    // replicated corpus multiplies equal-suffix groups but adjacency
    // stays one pair per neighbor), occurrence rematch is topK-
    // bounded broadcast. Expect the linear curve plus the fixed
    // driver-round overhead
    "q274_longest_repeats",
    // round-12: edit-distance near-dup. The Ed-Join prefix filter is
    // lossless, so the replicated corpus's exact-dup groups (x10 per
    // text) multiply posting-list pair counts quadratically — the
    // documented exact-baseline curve (q253 family); maxDf is the
    // linear scale path
    "q281_edit_neardup",
    // q282 = one per-user bitmask exchange + a 2^n model-size
    // lattice walk — expect linear
    "q282_shapley",
    // q283 = split projection + model agg + per-group rank window +
    // coverage agg, all key-partitioned — expect linear
    "q283_conformal",
    // q284 = one (group, value)-grid agg + lattice-bounded windows —
    // expect near-constant growth (the grid saturates)
    "q284_wasserstein",
    // q285 = one key agg + the two-phase prefix-max over the
    // distinct-x grid — expect linear in the agg, constant after
    "q285_skyline",
    // q286 = one codegen projection + one grouped agg; q287 = one
    // QI-grid agg + conditional aggregates — both linear
    "q286_randomized_response", "q287_ldiversity",
    // q288 = two two-phase rank passes + one rank equi-join — linear
    "q288_quantile_normalize",
    // q289 = per-iteration edge joins + grouped sums over the
    // persisted edge table — linear in |E|
    "q289_hits",
    // q290 = per-key windows + two grouped aggs — linear
    "q290_interval_islands",
    // q291 = one key-frequency agg + the 80-cell sketch combine —
    // linear in rows, constant sketch state
    "q291_ams_f2",
    // q292 = epochs x (margin projection + 65-cell update agg) over
    // a persisted corpus — linear, driver-size weights
    "q292_perceptron",
    // q294 = the q208 per-user lead window + grid joins — linear
    "q294_nelson_aalen",
    // q295 = daily agg + bounded TakeOrdered sample + k-model
    // broadcast score — linear in events, constant model state
    "q295_ransac",
    // q296 = k bounded driver passes, each one anti-join + grouped
    // count over the (set, element) table — linear per step
    "q296_set_cover",
    // q297 = one melted scan + two grouped aggs; q298 = two grouped
    // aggs + a label-marginal aggregate — both linear
    "q297_fd_discovery", "q298_krippendorff",
    // q299 = one (N+1)-way broadcast cross + a max_by agg; q300 =
    // one group agg + a group-alphabet rank — both linear
    "q299_rendezvous", "q300_apportion",
    // q301 = daily agg + a per-key bounded-series self-join (days
    // lattice saturates) — expect near-constant growth
    "q301_mann_kendall",
    // round-13: ExactSubstr removal = one gram-frequency agg + one
    // semi join + a per-doc window + per-doc rebuild — linear in
    // corpus tokens (the replicated corpus multiplies dup-gram
    // GROUP sizes, not the row count)
    "q302_exact_substr_dedup",
    // round-13: bucketed LOF. Candidates are n x nProbe x bucket
    // (~97 const under the gate's B = n/97) — linear; the n x B
    // assignment cross is the q49 parameterization artifact whose
    // fixed-k linear variant is probed below ("ivf assign k=const")
    "q303_lof_bucketed",
    // round-13: two-level assignment. The gate's coarse rule
    // (%388) also grows with the corpus — n x C stage-1 is the
    // same artifact at a 4x discount; the sqrt-scaled coarse
    // variant below ("hier assign C=sqrt") is the true two-level
    // curve (both stages n·sqrt(B))
    "q304_hier_assign",
    // round-13: winnowing = one gram explode + ONE per-doc window
    // pass (2(w-1) lag/lead columns) + the capped inverted-index
    // pair join — linear selection; the replicated corpus's
    // boilerplate fingerprints hit the maxDf cap (the q95 contract)
    "q305_winnow_pairs",
    // round-13: Hampel = one daily rollup + one per-key
    // window-bounded array pass — the days x types lattice
    // saturates, expect near-constant growth
    "q306_hampel_despike",
    // round-13: ROUGE = two per-pair gram counts + one pair-keyed
    // equi-join — linear in corpus tokens
    "q307_rouge",
    // round-13: BLEU components = the q307 shape x 4 orders in one
    // explode — linear with a 4x constant
    "q308_bleu_components",
    // rounds 14-15, enforced here so the 10x curve gates them like
    // the rest (the 100x battery records but does not gate):
    // ROUGE-L/chrF/Luhn/loop-detect are pure projections; the
    // k-group stats saturate lattice/block state; the winnowing/
    // Hampel/decontam incremental faces are index appends +
    // key-restricted probes; span decontam is the q302 marking
    // shape. q310/q326/q330 ride parameterized probes instead
    // (corpus-scaled centroids / model-size eval contracts).
    "q309_rouge_l", "q311_winnow_incremental",
    "q312_hampel_incremental", "q313_anova", "q314_kruskal_wallis",
    "q315_bloom_decontam", "q316_friedman", "q317_cochran_q",
    "q318_decontam_scrub", "q319_decontam_incremental",
    "q320_decontam_scrub_incremental", "q321_brown_forsythe",
    "q322_chrf", "q323_distinct_n", "q324_moore_lewis",
    "q325_luhn_scrub", "q327_loop_detect", "q328_jonckheere",
    "q329_page_trend")
  // q293_lof is deliberately NOT in the battery: it is the exact
  // O(n²) baseline (the q39 curve, ~100x on the 10x corpus) with
  // kdist windows on top — ~15 min per probe run for a shape
  // already characterized by q39; the maxRows plan guard is the
  // scale path (bucketed candidates at corpus size).

  // the 100x battery: the linear-by-design relational headline set,
  // the capped corpus paths and the suffix array; each query's curve is
  // noted in the 10x battery. The quadratic-by-design exact baselines
  // (q19/q43/q80's curation stage) are left out: on a 100x-replicated
  // corpus every doc gains 100 clones, and their capped twins (q94/q95)
  // are the scale path. q289's ratio reads LOW for data-shape reasons:
  // its up-front distinct collapses the replicated (cust, part) edges,
  // so |E| grows sub-100x. q326 is left out: its eval side is model-size
  // by contract, and replicating it would break the contract.
  private val HundredX = Seq(
    "q01_pricing_summary", "q03_region_revenue", "q06_user_daily",
    "q16_anomaly_features", "q42_asof_join", "q181_local_supplier_volume",
    "q213_shipping_priority", "q23_langid", "q54_pii_scrub",
    "q85_bpe_encode_fixed", "q95_jaccard_maxdf", "q107_token_budget",
    "q274_longest_repeats", "q289_hits", "q302_exact_substr_dedup",
    "q305_winnow_pairs", "q307_rouge", "q308_bleu_components",
    "q306_hampel_despike", "q309_rouge_l", "q311_winnow_incremental",
    "q315_bloom_decontam", "q312_hampel_incremental", "q313_anova",
    "q314_kruskal_wallis", "q316_friedman", "q317_cochran_q",
    "q318_decontam_scrub", "q319_decontam_incremental",
    "q320_decontam_scrub_incremental", "q321_brown_forsythe", "q322_chrf",
    "q323_distinct_n", "q324_moore_lewis", "q325_luhn_scrub",
    "q327_loop_detect", "q328_jonckheere", "q329_page_trend")
}
