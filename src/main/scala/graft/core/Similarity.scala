package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`array<float>`).
  *
  *  - Brute-force cosine top-k: broadcast the (small) query set against
  *    the corpus — one scan of the corpus, no corpus shuffle, per-query
  *    top-k via window rank. This is the exactness baseline.
  *  - IVF-style bucketed ANN: coarse-quantize every vector to its
  *    nearest centroid (broadcast centroid table), then search only
  *    within the probed buckets. At 100 TB the corpus is scanned once
  *    to assign buckets and written partitioned by bucket; queries then
  *    touch only their probe buckets' partitions.
  *
  * All math is sequential-fold double arithmetic (`aggregate`/
  * `zip_with`) so an external engine reproduces results bit-for-bit.
  */
object Similarity {

  /** Sequential-fold dot product of two numeric-array columns in
    * double precision — native expression
    * ([[graft.expressions.DotProduct]]); [[dotHof]] is the
    * built-ins-only formulation kept as its semantic oracle.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftShim.column(graft.expressions.DotProduct(
      org.apache.spark.sql.GraftShim.expression(a),
      org.apache.spark.sql.GraftShim.expression(b)))

  /** HOF formulation of [[dot]] — identical semantics, interpreted
    * per-element execution (test oracle only).
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k neighbors for each query vector.
    *
    * `queries` must be small (broadcast); `corpus` is scanned once.
    * Rank ties broken by corpus id for determinism.
    */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      norm(col(vecCol)).as("q_n"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
      norm(col(vecCol)).as("c_n"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("q_vec"), col("c_vec")) / (col("q_n") * col("c_n")))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("cos"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
  }

  /** Hard-negative mining for contrastive training: for each anchor,
    * the top-k most-similar corpus vectors with a DIFFERENT label —
    * the negatives that actually move an embedding model. `maxSim`
    * additionally drops candidates above a similarity ceiling
    * (suspected unlabeled positives / near-dups — the standard
    * "semi-hard" guard; the threshold compares the UNROUNDED cosine,
    * which both engines compute with the same fixed fold order).
    * Same scale shape as [[cosineTopK]]: anchors broadcast, corpus
    * scanned once, per-anchor windows only. Rank ties broken by
    * corpus id for determinism.
    */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame, k: Int,
                    maxSim: Double = 1.0, idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    val q = anchors.select(col(idCol).as("query_id"),
      col(labelCol).as("q_label"), col(vecCol).as("q_vec"),
      norm(col(vecCol)).as("q_n"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("c_label"), col(vecCol).as("c_vec"),
      norm(col(vecCol)).as("c_n"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("q_label") =!= col("c_label"))
      .withColumn("cos", dot(col("q_vec"), col("c_vec")) / (col("q_n") * col("c_n")))
      .filter(col("cos") <= maxSim)
    val w = Window.partitionBy(col("query_id")).orderBy(desc("cos"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
  }

  /** Matryoshka (MRL-style) two-stage retrieval: rank the corpus by
    * cosine over the FIRST `dTrunc` dimensions (matryoshka-trained
    * embeddings front-load information, so the prefix is a usable
    * coarse index), keep `cands` survivors per query, then re-rank
    * ONLY those with the exact full-dimension cosine and return the
    * top k. The scale shape is the point: the coarse stage carries
    * dTrunc-dim slices (dTrunc/dim of the vector bytes — at serving
    * scale a separate compact index), and FULL vectors are joined
    * back for cands×queries rows only, never scanned wholesale.
    * Both stages deterministic (ties by neighbor_id), so the whole
    * cascade is oracle-replayable. Recall < 1.0 when the prefix
    * misranks; exactness vs brute force asserted in the spec at
    * cands = corpus size.
    */
  def matryoshkaTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     dTrunc: Int, cands: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec"), slice(col(vecCol), 1, dTrunc).as("q_t"))
      .withColumn("q_n", norm(col("q_vec")))
      .withColumn("q_tn", norm(col("q_t")))
    val cCoarse = corpus.select(col(idCol).as("neighbor_id"),
        slice(col(vecCol), 1, dTrunc).as("c_t"))
      .withColumn("c_tn", norm(col("c_t")))
    val coarse = cCoarse.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_t",
        dot(col("q_t"), col("c_t")) / (col("q_tn") * col("c_tn")))
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos_t"), asc("neighbor_id"))
    val survivors = coarse.withColumn("crank", row_number().over(w1))
      .filter(col("crank") <= cands)
      .select(col("query_id"), col("q_vec"), col("q_n"), col("neighbor_id"))
    val cFull = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("c_vec"), norm(col(vecCol)).as("c_n"))
    val fine = survivors.join(cFull, "neighbor_id")
      .withColumn("cos",
        dot(col("q_vec"), col("c_vec")) / (col("q_n") * col("c_n")))
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos"), asc("neighbor_id"))
    fine.withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
  }

  /** Per-dimension binary-quantization thresholds: the corpus mean of
    * each dimension on the exact micro lattice (Σ floor(v·1e6) DIV n —
    * integer division identical across engines). The BQ "model": dim
    * rows of two BIGINTs, broadcastable anywhere.
    */
  def bqThresholds(corpus: DataFrame, vecCol: String = "embedding"): DataFrame =
    corpus
      .select(posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy("dim")
      .agg(sum(expr("CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)"))
        .as("sv"), count(lit(1)).as("n"))
      .select(col("dim").cast("long").as("dim"),
        expr("sv DIV n").as("thr_micro"))

  /** 1-bit binary quantization (the faiss/usearch BQ trend): bit d is
    * set iff the vector's micro-lattice value exceeds the corpus mean
    * of dimension d. Codes pack into TWO BIGINT halves (dims 0–31 →
    * `bq_lo`, 32–63 → `bq_hi`) so every value stays non-negative and
    * the pack is a plain Σ 2^i — portable to any engine with shifts
    * (a single 64-bit word would put dim 63 in the sign bit). 64 bytes
    * of float become 8 bytes of code: the index a 100 TB corpus ships
    * to serving. One explode + grouped conditional sum per build;
    * thresholds broadcast.
    */
  def binaryQuantize(df: DataFrame, thresholds: DataFrame,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    require(thresholds.columns.toSet == Set("dim", "thr_micro"))
    df.select(col(idCol), posexplode(col(vecCol)).as(Seq("dim", "v")))
      .select(col(idCol), col("dim").cast("long").as("dim"),
        expr("CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)").as("vm"))
      .join(broadcast(thresholds), Seq("dim"))
      .groupBy(idCol)
      .agg(
        sum(expr("CASE WHEN dim < 32 AND vm > thr_micro " +
          "THEN shiftleft(1L, CAST(dim AS INT)) ELSE 0L END")).as("bq_lo"),
        sum(expr("CASE WHEN dim >= 32 AND dim < 64 AND vm > thr_micro " +
          "THEN shiftleft(1L, CAST(dim AS INT) - 32) ELSE 0L END")).as("bq_hi"))
  }

  /** Binary-quantized ANN: Hamming distance over the 64-bit codes as
    * the coarse stage (`bit_count(xor)` on each half — 8-byte rows,
    * one corpus scan, the only thing that runs over everything), top
    * `cands` survivors per query re-ranked by EXACT full-vector
    * cosine. Both stages deterministic (ties by neighbor id), so the
    * cascade is oracle-replayable end to end — the q134 matryoshka
    * contract with bits instead of prefixes.
    */
  def bqTopK(queries: DataFrame, corpus: DataFrame, k: Int, cands: Int,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val thr = bqThresholds(corpus, vecCol)
    val cCodes = binaryQuantize(corpus, thr, idCol, vecCol)
      .withColumnRenamed(idCol, "neighbor_id")
      .withColumnRenamed("bq_lo", "c_lo").withColumnRenamed("bq_hi", "c_hi")
    val qCodes = binaryQuantize(queries, thr, idCol, vecCol)
      .withColumnRenamed(idCol, "query_id")
      .withColumnRenamed("bq_lo", "q_lo").withColumnRenamed("bq_hi", "q_hi")
    val coarse = cCodes.crossJoin(broadcast(qCodes))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("hamming",
        expr("bit_count(q_lo ^ c_lo) + bit_count(q_hi ^ c_hi)")
          .cast("long"))
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(asc("hamming"), asc("neighbor_id"))
    val survivors = coarse.withColumn("crank", row_number().over(w1))
      .filter(col("crank") <= cands)
      .select(col("query_id"), col("neighbor_id"), col("hamming"))
    val qFull = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec"), norm(col(vecCol)).as("q_n"))
    val cFull = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("c_vec"), norm(col(vecCol)).as("c_n"))
    val fine = survivors
      .join(broadcast(qFull), "query_id")
      .join(cFull, "neighbor_id")
      .withColumn("cos",
        dot(col("q_vec"), col("c_vec")) / (col("q_n") * col("c_n")))
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos"), asc("neighbor_id"))
    fine.withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("hamming"), round(col("cos"), 6).as("cosine"))
  }

  /** Assign each vector to its nearest centroid (IVF coarse
    * quantization). `centroids` is broadcast; one corpus scan.
    */
  def assignBuckets(corpus: DataFrame, centroids: DataFrame,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = centroids.select(col("centroid_id"), col(vecCol).as("cent_vec"))
    val scored = corpus.crossJoin(broadcast(c))
      .withColumn("cos", cosine(col(vecCol), col("cent_vec")))
    val w = Window.partitionBy(col(idCol)).orderBy(desc("cos"), asc("centroid_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") === 1)
      .select(col(idCol), col(vecCol), col("centroid_id").as("bucket"))
  }

  /** IVF ANN: search only the `nProbe` closest buckets per query.
    * Recall < 1.0 by construction; exactness is checked against
    * `cosineTopK` in the test suite, not the oracle gate.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
              k: Int, nProbe: Int = 2,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val bucketed = assignBuckets(corpus, centroids, idCol, vecCol)
    val c = centroids.select(col("centroid_id"), col(vecCol).as("cent_vec"))
    val qProbes = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .crossJoin(broadcast(c))
      .withColumn("cos_c", cosine(col("q_vec"), col("cent_vec")))
    val wq = Window.partitionBy(col("query_id")).orderBy(desc("cos_c"), asc("centroid_id"))
    val probes = qProbes.withColumn("rnk", row_number().over(wq))
      .filter(col("rnk") <= nProbe)
      .select(col("query_id"), col("q_vec"), col("centroid_id").as("bucket"))
    val scored = probes.join(bucketed, "bucket")
      .filter(col("query_id") =!= col(idCol))
      .withColumn("cos", cosine(col("q_vec"), col(vecCol)))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("cos"), asc(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol).as("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
  }

  /** Persist an IVF index: one bucket-assignment scan, written
    * hive-partitioned by bucket — the 100 TB serving layout, where a
    * query's nProbe buckets prune to O(probed partitions) of the
    * corpus at the SCAN (PartitionFilters), instead of filtering after
    * reading everything.
    */
  def writeIvfIndex(corpus: DataFrame, centroids: DataFrame, dir: String,
                    idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    assignBuckets(corpus, centroids, idCol, vecCol)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("bucket").parquet(dir)

  /** Bucket-clustered assignment rows — every output file carries a
    * tight `bucket` min/max, so a probe read prunes at the manifest.
    * `clusterPartitions` fixes the file count (AQE coalesces a small
    * commit to ONE file otherwise, which spans every bucket and
    * defeats pruning — at production scale the default is fine, a
    * small bootstrap commit should pin it).
    */
  private def clusteredAssignments(corpus: DataFrame, centroids: DataFrame,
                                   idCol: String, vecCol: String,
                                   clusterPartitions: Option[Int]): DataFrame = {
    val assigned = assignBuckets(corpus, centroids, idCol, vecCol)
    clusterPartitions.fold(
        assigned.repartitionByRange(col("bucket")))(
        n => assigned.repartitionByRange(n, col("bucket")))
      .sortWithinPartitions("bucket")
  }

  /** The IVF index AS a transactional snapshot table: assignment rows
    * range-clustered on `bucket` (stat-pruned probe reads — the same
    * O(matching files) contract as the hive-partitioned layout, plus
    * snapshot isolation, time travel, and compaction for free).
    * Overwrite = full (re)build, e.g. after retraining centroids.
    */
  def writeIvfIndexTable(corpus: DataFrame, centroids: DataFrame,
                         table: String, idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         clusterPartitions: Option[Int] = None): Int =
    graft.sources.SnapshotTable.overwrite(
      clusteredAssignments(corpus, centroids, idCol, vecCol,
        clusterPartitions), table)

  /** INCREMENTAL index maintenance: newly arrived vectors are assigned
    * against the (frozen) centroids and appended as one transactional
    * commit — O(new vectors), the index is never rewritten. With
    * `writer = Some((writerId, txnVersion))` the append is idempotent
    * (the Delta txnAppId contract), which makes a `foreachBatch`
    * vector-ingest stream exactly-once; re-delivery returns None.
    * Centroid DRIFT is the retrain trigger, not an append concern:
    * assignment is against frozen centroids by design (the production
    * IVF regime — rebuild via [[writeIvfIndexTable]] when recall
    * degrades).
    */
  def appendToIvfIndex(newVectors: DataFrame, centroids: DataFrame,
                       table: String, idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       writer: Option[(String, Long)] = None,
                       clusterPartitions: Option[Int] = None): Option[Int] = {
    val rows = clusteredAssignments(newVectors, centroids, idCol, vecCol,
      clusterPartitions)
    graft.sources.SnapshotTable.appendAs(rows, table, writer)
  }

  /** [[ivfTopKIndexed]] over the snapshot-table index: probed buckets
    * merge into contiguous id ranges, each a manifest-stat-pruned read
    * (the bucket-clustered layout keeps ranges few), with the exact
    * `isin` as a residual filter. Result semantics match [[ivfTopK]]
    * with the same centroids, regardless of how many commits built the
    * index.
    */
  def ivfTopKIndexedTable(spark: org.apache.spark.sql.SparkSession,
                          queries: DataFrame, table: String,
                          centroids: DataFrame, k: Int, nProbe: Int = 2,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    val c = centroids.select(col("centroid_id"), col(vecCol).as("cent_vec"))
    val qProbes = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .crossJoin(broadcast(c))
      .withColumn("cos_c", cosine(col("q_vec"), col("cent_vec")))
    val wq = Window.partitionBy(col("query_id")).orderBy(desc("cos_c"), asc("centroid_id"))
    val probes = Materialize.localCheckpoint(
      qProbes.withColumn("rnk", row_number().over(wq))
        .filter(col("rnk") <= nProbe)
        .select(col("query_id"), col("q_vec"), col("centroid_id").as("bucket")))
    val buckets = probes.select("bucket").distinct()
      .collect().map(_.getLong(0)).sorted
    // ONE stat-pruned read over the probed buckets' [min, max]
    // envelope, exact `isin` as the residual filter. (NOT one read per
    // contiguous bucket range unioned: a file spanning several buckets
    // matches multiple ranges and its rows would DUPLICATE across the
    // union — caught by parity against ivfTopK during bring-up.)
    val index = graft.sources.SnapshotTable.read(spark, table,
        prune = Seq(graft.sources.SnapshotTable.ColRange("bucket",
          lower = Some(buckets.head), upper = Some(buckets.last))))
      .filter(col("bucket").isin(buckets.map(Long.box): _*))
    val scored = probes.join(index, "bucket")
      .filter(col("query_id") =!= col(idCol))
      .withColumn("cos", cosine(col("q_vec"), col(vecCol)))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("cos"), asc(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol).as("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
  }

  /** ANN search over a persisted IVF index ([[writeIvfIndex]]): probe
    * buckets are computed per query against the broadcast centroid
    * table, collected (|queries| × nProbe ints — driver-bounded by the
    * query batch, which is small by contract), and pushed into the
    * index read as a partition-pruning `isin` filter. Result semantics
    * match [[ivfTopK]] with the same centroids.
    */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession,
                     queries: DataFrame, indexDir: String,
                     centroids: DataFrame, k: Int, nProbe: Int = 2,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val c = centroids.select(col("centroid_id"), col(vecCol).as("cent_vec"))
    val qProbes = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .crossJoin(broadcast(c))
      .withColumn("cos_c", cosine(col("q_vec"), col("cent_vec")))
    val wq = Window.partitionBy(col("query_id")).orderBy(desc("cos_c"), asc("centroid_id"))
    // |queries| × nProbe rows — tiny by contract. Materialize ONCE so
    // the bucket collect below and the main join don't each re-run the
    // query-centroid scoring pipeline.
    val probes = Materialize.localCheckpoint(
      qProbes.withColumn("rnk", row_number().over(wq))
        .filter(col("rnk") <= nProbe)
        .select(col("query_id"), col("q_vec"), col("centroid_id").as("bucket")))
    val probedBuckets = probes.select("bucket").distinct()
      .collect().map(_.getLong(0))
    val index = spark.read.parquet(indexDir)
      .filter(col("bucket").isin(probedBuckets: _*)) // partition pruning
    val scored = probes.join(index, "bucket")
      .filter(col("query_id") =!= col(idCol))
      .withColumn("cos", cosine(col("q_vec"), col(vecCol)))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("cos"), asc(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol).as("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
  }

  /** Local Outlier Factor (Breunig et al., SIGMOD 2000) — the
    * density-RATIO outlier score that global distance cuts miss: a
    * point is anomalous when its neighborhood is much sparser than
    * its neighbors' own neighborhoods (LOF ≫ 1), which catches
    * outliers beside dense clusters that a global k-distance
    * threshold ([[graft.core]]'s q198 centroid z-scores) never flags.
    *
    * Exact-integer formulation on the MILLI lattice (floor(v·1e3) —
    * squared distances then fit k-sums comfortably): k-distance =
    * the exact k-th order statistic of squared distances (per-point
    * rank window, tie-break by neighbor id), N_k includes ALL
    * tied-at-k-distance neighbors (the paper's definition),
    * reachability = max(kdist(o), d²(p,o)), and both ratios quantize
    * once each — lrd_q = n·1e12 DIV Σreach, lof_micro =
    * Σlrd_o·1e6 DIV (n·lrd_p) — so the whole score replays
    * bit-for-bit in SQL. (Distances enter squared throughout — a
    * monotone reparameterization of the textbook metric, documented,
    * deterministic.)
    *
    * Scale: this is the exact O(n²) baseline with the
    * [[cosineNearDupPairs]] plan-level maxRows guard; at corpus scale
    * use [[lofBucketed]] — the same algebra over IVF-bucket candidate
    * pairs instead of the cross join.
    *
    * Output: (id, kdist_sq, n_neighbors, lrd_q, lof_micro).
    */
  def lof(emb: DataFrame, k: Int, idCol: String = "vec_id",
          vecCol: String = "embedding",
          maxRows: Long = 100000L): DataFrame = Materialize.scope {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "k must be >= 1")
    val guard = emb.groupBy().count()
      .select(assert_true(col("count") <= maxRows, concat(
        lit("lof is the exact O(n^2) baseline and got "),
        col("count"),
        lit(s" rows (cap $maxRows) — bucket candidates at scale, or " +
          "raise maxRows for a deliberate exact run"))).as("__ok"))
    // milli coords kept as INTEGER-VALUED DOUBLES: dots then stay
    // ≤ dim·1200² ≪ 2^53, so the native DotProduct fold is EXACT and
    // d² = |a|² + |b|² − 2⟨a,b⟩ recovers the exact BIGINT squared
    // distance — one primitive loop per pair instead of the
    // interpreted zip_with HOF (which made the n² scan ~10x slower)
    // spread the quantized points across the session's parallelism
    // BEFORE the n² scan: the input is typically one scan split (a
    // single parquet row group at gate scale; one unsplittable file in
    // general — guide §2.5), and the cross join streams its LEFT side
    // partition-by-partition, so a 1-partition input serializes the
    // whole O(n²) dot pass on one core (measured: the q293 n²-dots
    // stage ran as ONE 2.5 s task on local[32]). Cost: one exchange of
    // the ≤ maxRows point table — model-size by the guard above.
    val par = emb.sparkSession.sparkContext.defaultParallelism
    val pts = Materialize.persist(emb.select(col(idCol).as("id"),
        expr(s"transform($vecCol, v -> CAST(" +
          "floor(CAST(v AS DOUBLE) * 1000.0) AS DOUBLE))").as("vm"))
      .repartition(par)
      .withColumn("n2", dot(col("vm"), col("vm")).cast("long"))
      .crossJoin(broadcast(guard)).filter(col("__ok").isNull).drop("__ok"))
    val a = pts.select(col("id").as("p"), col("vm").as("va"),
      col("n2").as("na"))
    val b = pts.select(col("id").as("o"), col("vm").as("vb"),
      col("n2").as("nb"))
    // dot once per UNORDERED pair, mirror for the symmetric view —
    // the fold is the n² scan's cost center
    // cache the HALF table: the mirror union reads it twice and every
    // downstream consumer again
    val half = Materialize.persist(a.crossJoin(b).filter(col("p") < col("o"))
      .withColumn("d2",
        col("na") + col("nb") - lit(2L) * dot(col("va"), col("vb"))
          .cast("long"))
      .select(col("p"), col("o"), col("d2")))
    val pairs = half.unionByName(half.select(col("o").as("p"),
      col("p").as("o"), col("d2")))
    val w = Window.partitionBy("p").orderBy(col("d2"), col("o"))
    // ONE window pass yields both the k-distance and the neighbor set:
    // kdist_sq rides every row of its partition via an unordered
    // full-frame max over the SAME partitioning (no extra exchange, no
    // sort — the partition is already ordered), replacing the previous
    // separate kdist subtree + pairs⋈kdist shuffle join, which
    // re-derived the n²-pair window sort per consumer (measured: q293
    // 6.4 s warm → see OPTIMIZATION_r16.md). A group with < k rows
    // gets kdist_sq = NULL and `d2 <= NULL` drops it — exactly the
    // rows the previous inner join dropped.
    //
    // nbrs and kdist PERSIST: both are model-size (~n·k and n rows
    // under the maxRows guard) and each is read by two downstream
    // consumers (guide §5: cache what is reused AND expensive).
    val ranked = pairs.withColumn("rn", row_number().over(w))
      .withColumn("kdist_sq",
        max(when(col("rn") === k, col("d2")))
          .over(Window.partitionBy("p")))
    val nbrs = Materialize.persist(ranked.filter(col("d2") <= col("kdist_sq"))
      .select(col("p"), col("o"), col("d2"), col("rn"), col("kdist_sq")))
    val kdist = Materialize.persist(nbrs.filter(col("rn") === k)
      .select(col("p"), col("kdist_sq")))
    val reach = nbrs
      .join(kdist.select(col("p").as("o"), col("kdist_sq").as("ko")), "o")
      .select(col("p"), col("o"), col("kdist_sq"),
        greatest(col("ko"), col("d2")).as("rd"))
    val lrd = reach.groupBy(col("p"), col("kdist_sq"))
      .agg(count(lit(1)).as("n_nb"), sum("rd").as("s"))
      .filter(col("s") > 0L)
      .select(col("p"), col("kdist_sq"), col("n_nb"),
        expr("n_nb * 1000000000000L DIV s").as("lrd_q"))
    val out = nbrs.select(col("p"), col("o"))
      .join(lrd.select(col("p").as("o"), col("lrd_q").as("lrd_o")), "o")
      .groupBy("p").agg(sum("lrd_o").as("sum_lrd_o"))
      .join(lrd, "p")
      .select(col("p").as("id"), col("kdist_sq"),
        col("n_nb").as("n_neighbors"), col("lrd_q"),
        expr("sum_lrd_o * 1000000L DIV (n_nb * lrd_q)").as("lof_micro"))
    Materialize.localCheckpoint(out)
  }

  /** Milli-lattice quantization shared by the integer-d² family
    * ([[lof]], [[lofBucketed]], [[probeBucketsL2]]): integer-valued
    * DOUBLES so the native [[dot]] fold is exact below 2^53 and
    * d² = |a|²+|b|²−2⟨a,b⟩ recovers the exact BIGINT squared
    * distance.
    */
  private def quantMilli(c: String): Column =
    expr(s"transform($c, v -> CAST(floor(CAST(v AS DOUBLE) * 1000.0)" +
      " AS DOUBLE))")

  /** The `nProbe` nearest centroids per point by EXACT integer d² on
    * the milli lattice (ties to the lowest centroid id) — the
    * all-integer, SQL-replayable assignment primitive behind
    * [[lofBucketed]] and [[assignBucketsHierarchical]]. One broadcast
    * cross of the (model-size) centroid table against the points, one
    * per-point window rank.
    *
    * Output: (id, cid, rnk, dc) with rnk ∈ [1, nProbe]; rnk = 1 is
    * the home bucket.
    */
  def probeBucketsL2(points: DataFrame, centroids: DataFrame,
                     nProbe: Int, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     centIdCol: String = "centroid_id"): DataFrame = {
    // loud guard (the hits() discipline): an empty centroid table
    // would silently assign NOTHING — every downstream row vanishes
    // with no hint at the cause. Centroids are model-size by
    // contract, so the eager emptiness check is one cheap action.
    // Internal callers that already guarded (the hierarchical path
    // re-enters 3x) go through the unguarded body instead of paying
    // the take(1) action per re-entry (ADVICE r13).
    require(!centroids.isEmpty,
      "probeBucketsL2: centroid table is empty — nothing to assign to")
    probeBucketsL2Unguarded(points, centroids, nProbe, idCol, vecCol,
      centIdCol)
  }

  /** (id, vm, n2) projection of a point table — the quantized-vector
    * shape every probe body consumes. */
  private def prepPoints(points: DataFrame, idCol: String,
                         vecCol: String): DataFrame =
    points.select(col(idCol).as("id"), quantMilli(vecCol).as("vm"))
      .withColumn("n2", dot(col("vm"), col("vm")).cast("long"))

  /** (cid, cm, cn2) projection of a centroid table. Callers that use
    * a centroid pipeline more than once checkpoint THIS projection
    * (model-size by contract) so the derivation never re-runs.
    */
  private def prepCents(centroids: DataFrame, centIdCol: String,
                        vecCol: String): DataFrame =
    centroids.select(col(centIdCol).as("cid"),
        quantMilli(vecCol).as("cm"))
      .withColumn("cn2", dot(col("cm"), col("cm")).cast("long"))

  private def probeBucketsL2Unguarded(points: DataFrame,
                                      centroids: DataFrame,
                                      nProbe: Int, idCol: String,
                                      vecCol: String,
                                      centIdCol: String): DataFrame =
    probeBucketsL2Prepped(prepPoints(points, idCol, vecCol),
      prepCents(centroids, centIdCol, vecCol), nProbe)

  /** The probe body over pre-projected sides ((id, vm, n2) points ×
    * (cid, cm, cn2) centroids) — shared so the hierarchical path can
    * feed CHECKPOINTED centroid frames instead of re-deriving the
    * centroid pipeline per probe call (VERDICT r14 #3).
    */
  private def probeBucketsL2Prepped(pts: DataFrame, cents: DataFrame,
                                    nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nProbe >= 1, "nProbe must be >= 1")
    val wa = Window.partitionBy("id").orderBy(col("dc"), col("cid"))
    // project NARROW before the rank window: the cross output is
    // n x B rows and the window pays one exchange — at 24 bytes/row
    // that exchange is linear-ish bookkeeping, with the vectors
    // aboard it would be the corpus x B payload (the mistake that
    // filled the disk on the first 100x LOF probe)
    pts.crossJoin(broadcast(cents))
      .withColumn("dc", col("n2") + col("cn2")
        - lit(2L) * dot(col("vm"), col("cm")).cast("long"))
      .select(col("id"), col("cid"), col("dc"))
      .withColumn("rnk", row_number().over(wa))
      .filter(col("rnk") <= nProbe)
      .select(col("id"), col("cid"), col("rnk"), col("dc"))
  }

  /** [[lof]] over IVF-bucket candidate pairs — the corpus-scale path
    * the exact baseline's scaladoc promises: instead of the O(n²)
    * cross join, each point's neighbor candidates are the members of
    * its `nProbe` nearest centroid buckets (the [[ivfTopK]] query
    * model), and the SAME quantized LOF algebra (k-distance with
    * ties, reachability, lrd_q, lof_micro — see [[lof]]) runs over
    * that candidate relation. Cost is n·nProbe·(avg bucket size) —
    * linear in n for a fixed centroid count ratio, never all-pairs.
    * Shuffle discipline: vectors ride only the n-sized bucket-keyed
    * sides (homeV/probeV) — pair rows carry (p, o, d2) alone, so the
    * candidate relation's byte volume is pairs × 24 B, not
    * pairs × vector width. At corpus-growing bucket counts pair
    * assignment itself goes through [[assignBucketsHierarchical]].
    *
    * Parameterization at scale: candidate-pair count is
    * Σ_b |probe(b)|·|home(b)| ≈ n · nProbe · n/B, so the scale-safe
    * DEFAULT is B ∝ n (fixed expected bucket size ⇒ pair count
    * linear in n — the `LofBucketProbe` battery row). B ≈ √n (the
    * "sqrt-centroid" setting) makes pairs grow as n^1.5 — the
    * measured ~1000×-pairs / 90×-wall 100× point in BASELINE.md; use
    * it only when centroid training cost dominates and the corpus is
    * bounded.
    *
    * Approximation surface, stated honestly: a true k-nearest
    * neighbor living outside every probed bucket is missed, inflating
    * kdist and shifting lrd — recall vs the exact baseline is gated
    * in `LofBucketedSpec` (the q27/q104 discipline: separated
    * clusters ⇒ bit-identical to [[lof]]; mixed corpora ⇒ asserted
    * overlap on the outlier ranking). Points with fewer than k
    * candidates drop (the exact variant's n<k rule, reached here also
    * when probed buckets are thin — widen nProbe or retrain
    * centroids). The SAME thin-bucket drop applies on the NEIGHBOR
    * side: a neighbor o with fewer than k candidates of its own has
    * no kdist row, so the reach join excludes it — p's n_neighbors /
    * lrd sums run over the SURVIVING neighbors only (the DuckDB
    * oracle mirrors this exactly; the residual is again confined to
    * thin buckets).
    *
    * Everything stays in the milli-quantized integer domain,
    * INCLUDING bucket assignment (argmin of exact BIGINT d² to the
    * quantized centroids, ties to the lowest centroid id) — one
    * quantization, so the full pipeline replays bit-for-bit in SQL.
    *
    * Output: (id, bucket, kdist_sq, n_neighbors, lrd_q, lof_micro).
    */
  def lofBucketed(emb: DataFrame, centroids: DataFrame, k: Int,
                  nProbe: Int = 2, idCol: String = "vec_id",
                  vecCol: String = "embedding",
                  centIdCol: String = "centroid_id"): DataFrame = {
    require(nProbe >= 1, "nProbe must be >= 1")
    // centroid distances: one broadcast cross (centroids are
    // model-size by contract), exact BIGINT d²
    lofOverProbes(emb,
      probeBucketsL2(emb, centroids, nProbe, idCol, vecCol, centIdCol),
      k, idCol, vecCol)
  }

  /** [[lofBucketed]] with TWO-LEVEL bucket assignment — the B ∝ n
    * (fixed expected bucket size) parameterization the scaladoc above
    * names as the scale-safe default. Flat probing pays an n×B
    * assignment cross, which at B ∝ n is n²/const — this variant
    * probes through [[probeBucketsHierarchical]] (both stages n·√B at
    * C ≈ √B), then runs the IDENTICAL LOF algebra over the identical
    * candidate relation. With `wProbe` = C the probed fine buckets
    * equal flat probing EXACTLY (`LofBucketedSpec`); smaller wProbe
    * adds only the boundary-point approximation documented on
    * [[assignBucketsHierarchical]].
    */
  def lofBucketedTwoLevel(emb: DataFrame, coarseCents: DataFrame,
                          fineCents: DataFrame, k: Int,
                          nProbe: Int = 2, wProbe: Int = 2,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          centIdCol: String = "centroid_id"): DataFrame =
    lofOverProbes(emb,
      probeBucketsHierarchical(emb, coarseCents, fineCents, wProbe,
        nProbe, idCol, vecCol, centIdCol),
      k, idCol, vecCol)

  /** The LOF algebra over a prebuilt probe relation (`ranked`:
    * (id, cid, rnk) from [[probeBucketsL2]] or
    * [[probeBucketsHierarchical]]) — shared so flat and two-level
    * assignment feed bit-identical downstream plans.
    */
  private def lofOverProbes(emb: DataFrame, rankedIn: DataFrame, k: Int,
                            idCol: String, vecCol: String): DataFrame = Materialize.scope {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "k must be >= 1")
    val pts = Materialize.persist(
      emb.select(col(idCol).as("id"), quantMilli(vecCol).as("vm"))
        .withColumn("n2", dot(col("vm"), col("vm")).cast("long")))
    val ranked = Materialize.persist(
      rankedIn.select(col("id"), col("cid"), col("rnk")))
    val home = ranked.filter(col("rnk") === 1)
      .select(col("id").as("o"), col("cid").as("bucket"))
    val probes = ranked.select(col("id").as("p"), col("cid").as("bucket"))
    // candidate relation: o is a candidate of p iff o's HOME bucket
    // is among p's probed buckets — each (p, o) at most once (one
    // home per o, distinct probe buckets per p). Vectors attach to
    // the n-sized bucket-keyed SIDES, never to the pair rows: the
    // bucket join computes d² inside its projection and only
    // (p, o, d2) survives — shuffles stay corpus-sized (n and
    // n·nProbe vector rows, 24-byte pair rows), where joining the
    // vectors onto the PAIR table shuffled pair-count x vector-width
    // (the plan that filled the disk at the 100x probe)
    val homeV = home.join(pts.select(col("id").as("o"),
      col("vm").as("vb"), col("n2").as("nb")), "o")
    val probeV = probes.join(pts.select(col("id").as("p"),
      col("vm").as("va"), col("n2").as("na")), "p")
    val cand = probeV.join(homeV, "bucket").filter(col("p") =!= col("o"))
      .withColumn("d2", col("na") + col("nb")
        - lit(2L) * dot(col("va"), col("vb")).cast("long"))
      .select(col("p"), col("o"), col("d2"))
    // ONE window pass yields both the k-distance and the neighbor set
    // (the [[lof]] r16 fuse applied to the bucketed family): kdist_sq
    // rides every row of its partition via an unordered full-frame max
    // over the SAME partitioning — no extra exchange, no sort — which
    // deletes the separate kdist subtree and the cand⋈kdist shuffle
    // join (guide §2.4). A group with < k rows gets kdist_sq = NULL
    // and `d2 <= NULL` drops it, exactly like the old inner join.
    // cand now has ONE consumer, so its persist is gone; nbrs/kdist
    // persist instead (model-size: ~n·k and n rows — guide §5).
    val w = Window.partitionBy("p").orderBy(col("d2"), col("o"))
    val nbrs = Materialize.persist(cand.withColumn("rn", row_number().over(w))
      .withColumn("kdist_sq",
        max(when(col("rn") === k, col("d2")))
          .over(Window.partitionBy("p")))
      .filter(col("d2") <= col("kdist_sq"))
      .select(col("p"), col("o"), col("d2"), col("rn"), col("kdist_sq")))
    val kdist = Materialize.persist(nbrs.filter(col("rn") === k)
      .select(col("p"), col("kdist_sq")))
    val reach = nbrs
      .join(kdist.select(col("p").as("o"), col("kdist_sq").as("ko")), "o")
      .select(col("p"), col("o"), col("kdist_sq"),
        greatest(col("ko"), col("d2")).as("rd"))
    val lrd = reach.groupBy(col("p"), col("kdist_sq"))
      .agg(count(lit(1)).as("n_nb"), sum("rd").as("s"))
      .filter(col("s") > 0L)
      .select(col("p"), col("kdist_sq"), col("n_nb"),
        expr("n_nb * 1000000000000L DIV s").as("lrd_q"))
    val out = nbrs.select(col("p"), col("o"))
      .join(lrd.select(col("p").as("o"), col("lrd_q").as("lrd_o")), "o")
      .groupBy("p").agg(sum("lrd_o").as("sum_lrd_o"))
      .join(lrd, "p")
      .join(home.select(col("o").as("p"), col("bucket")), "p")
      .select(col("p").as("id"), col("bucket"), col("kdist_sq"),
        col("n_nb").as("n_neighbors"), col("lrd_q"),
        expr("sum_lrd_o * 1000000L DIV (n_nb * lrd_q)").as("lof_micro"))
    Materialize.localCheckpoint(out)
  }

  /** Flat exact integer-d² bucket assignment — [[probeBucketsL2]]'s
    * home bucket per point: (id, bucket, d2). The all-integer twin of
    * the cosine [[assignBuckets]], and the exactness baseline
    * [[assignBucketsHierarchical]] is gated against.
    */
  def assignBucketsL2(points: DataFrame, centroids: DataFrame,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      centIdCol: String = "centroid_id"): DataFrame =
    probeBucketsL2(points, centroids, 1, idCol, vecCol, centIdCol)
      .select(col("id"), col("cid").as("bucket"), col("dc").as("d2"))

  /** TWO-LEVEL (hierarchical) IVF assignment — the fix for the
    * brute-force n×B assignment cross that every probe round flags as
    * "the q49 artifact": with bucket count B growing as n/const (the
    * parameterization that keeps IVF candidate lists linear), flat
    * assignment is n×B ≈ n²/const. Here the centroid table itself is
    * coarse-quantized first (each FINE centroid gets a COARSE parent
    * — a model×model broadcast cross), points probe their `wProbe`
    * nearest coarse cells (n×C), and the fine argmin runs only over
    * fine centroids whose parent is probed (n × wProbe·B/C average).
    * With C ≈ √B both stages are n·√B — the classic two-level /
    * IMI-style coarse-then-refine trade (Jégou et al.'s IVFADC
    * lineage), expressed as two broadcast crosses and two window
    * ranks.
    *
    * Approximation, stated honestly: the true nearest fine centroid
    * can live under an unprobed coarse parent; `wProbe` > 1 shrinks
    * that set (boundary points), and `HierarchicalAssignSpec` gates
    * agreement vs [[assignBucketsL2]] — with wProbe = C the result
    * is the flat assignment EXACTLY (every fine centroid is a
    * candidate, same argmin, same ties). All distances are the same
    * exact-BIGINT milli-lattice d² as the rest of the family, so the
    * whole two-stage argmin replays bit-for-bit in SQL.
    *
    * Output: (id, bucket, d2) — same shape as [[assignBucketsL2]].
    */
  def assignBucketsHierarchical(points: DataFrame, coarseCents: DataFrame,
                                fineCents: DataFrame, wProbe: Int = 2,
                                idCol: String = "vec_id",
                                vecCol: String = "embedding",
                                centIdCol: String = "centroid_id")
      : DataFrame =
    probeBucketsHierarchical(points, coarseCents, fineCents, wProbe, 1,
      idCol, vecCol, centIdCol)
      .select(col("id"), col("cid").as("bucket"), col("dc").as("d2"))

  /** Two-level analogue of [[probeBucketsL2]]: each point's `nProbe`
    * nearest FINE centroids, searched only among children of its
    * `wProbe` nearest coarse cells — (id, cid, rnk, dc), same shape
    * and tie rule as the flat prober. With wProbe = C it IS the flat
    * prober (every fine centroid a candidate); the two-stage cost is
    * the [[assignBucketsHierarchical]] n·√B argument.
    */
  def probeBucketsHierarchical(points: DataFrame, coarseCents: DataFrame,
                               fineCents: DataFrame, wProbe: Int,
                               nProbe: Int,
                               idCol: String = "vec_id",
                               vecCol: String = "embedding",
                               centIdCol: String = "centroid_id")
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(wProbe >= 1, "wProbe must be >= 1")
    require(nProbe >= 1, "nProbe must be >= 1")
    // centroid pipelines materialize ONCE into eager model-size
    // checkpoints (VERDICT r14 #3): before this, coarseCents was
    // re-evaluated 3x (emptiness guard + parents probe + points
    // probe) and fineCents 3x (guard + parents' points side + the
    // candidate table) — for centroids FILTERED/TRAINED from the
    // corpus each re-evaluation was a repeated corpus scan. The
    // checkpoints also make the loud emptiness guards free (an empty
    // fine table would enter the fine argmin as a silent
    // assign-nothing; the guard semantics are unchanged from r13).
    val coarse = Materialize.localCheckpoint(
      prepCents(coarseCents, centIdCol, vecCol))
    require(!coarse.isEmpty,
      "assignBucketsHierarchical: coarse centroid table is empty")
    val fineP = Materialize.localCheckpoint(
      prepCents(fineCents, centIdCol, vecCol))
    require(!fineP.isEmpty,
      "assignBucketsHierarchical: fine centroid table is empty")
    // each fine centroid's coarse parent: model x model, broadcast
    val parents = probeBucketsL2Prepped(
        fineP.select(col("cid").as("id"), col("cm").as("vm"),
          col("cn2").as("n2")),
        coarse, 1)
      .select(col("id").as("fine_cid"), col("cid").as("parent"))
    // stage 1: each point's wProbe nearest coarse cells (n x C)
    val probed = probeBucketsL2Prepped(
        prepPoints(points, idCol, vecCol), coarse, wProbe)
      .select(col("id"), col("cid").as("parent"))
    // stage 2: fine argmin over the probed cells' children only
    // (n x wProbe*B/C average). The candidate join is parent-keyed
    // against a broadcast model-size table; the point side carries
    // its quantized vector once.
    val pts = prepPoints(points, idCol, vecCol)
    val fine = fineP.select(col("cid").as("fine_cid"), col("cm"),
      col("cn2"))
    val candCents = broadcast(
      parents.join(fine, "fine_cid")
        .select(col("parent"), col("fine_cid"), col("cm"), col("cn2")))
    val w = Window.partitionBy("id").orderBy(col("d2"), col("fine_cid"))
    // narrow projection before the argmin window (the probeBucketsL2
    // discipline): candidate rows enter the exchange as
    // (id, fine_cid, d2) only
    probed.join(pts, "id")
      .join(candCents, "parent")
      .withColumn("d2", col("n2") + col("cn2")
        - lit(2L) * dot(col("vm"), col("cm")).cast("long"))
      // a fine centroid can be reachable through SEVERAL probed
      // parents only if parents duplicate — they don't (argmin), so
      // (id, fine_cid) is unique and the rank needs no distinct
      .select(col("id"), col("fine_cid"), col("d2"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= nProbe)
      .select(col("id"), col("fine_cid").as("cid"), col("rnk"),
        col("d2").as("dc"))
  }

  /** Embedding-cosine near-duplicate pairs, exact: all (a < b) pairs
    * with cosine >= threshold. O(n^2) scoring — the correctness
    * baseline and oracle target; use [[lshNearDupPairs]] at scale.
    *
    * `maxRows` is a loud-failure guard (the JsonArraySink discipline):
    * a mistaken call on a production corpus would otherwise silently
    * plan an O(n²) cross join. The guard is part of the PLAN, not an
    * eager builder action: a one-row count relation with `assert_true`
    * is broadcast onto the build side, so the check fires at execution
    * (broadcasts materialize before the probe streams) and building
    * the DataFrame stays lazy. Raise the cap only for a deliberate
    * exact-baseline run.
    */
  def cosineNearDupPairs(emb: DataFrame, threshold: Double,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         maxRows: Long = 100000L): DataFrame = {
    val guard = emb.groupBy().count()
      .select(assert_true(col("count") <= maxRows, concat(
        lit("cosineNearDupPairs is the exact O(n^2) baseline and got "),
        col("count"),
        lit(s" rows (cap $maxRows) — use lshNearDupPairs at scale, or " +
          "raise maxRows for a deliberate exact run"))).as("__ok"))
    // norms are per-VECTOR: compute them once per side, never per pair
    val a = emb.select(col(idCol).as("id_a"), col(vecCol).as("va"),
      norm(col(vecCol)).as("na"))
      .crossJoin(broadcast(guard)).filter(col("__ok").isNull).drop("__ok")
    val b = emb.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
      norm(col(vecCol)).as("nb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cosine"))
  }

  /** Scale path for near-dup: multi-table random-hyperplane LSH
    * (Charikar '02). Each of `nTables` tables keys vectors by
    * `bitsPerTable` sign bits against deterministic pseudo-random
    * hyperplanes; only within-bucket pairs are scored. A pair at angle
    * θ collides in one table w.p. (1 − θ/π)^k, so recall is
    * 1 − (1 − (1−θ/π)^k)^L — tunable; tested against the exact
    * variant. Hyperplane components derive from rollingHash("bit:dim")
    * (materialized as literals — they're row-independent), so any
    * engine can reproduce the bucketing.
    *
    * `bitsPerTable = 0` (default) sizes buckets to the corpus:
    * ceil(log2(n / 64)) bits, min 4 — without this, bucket count is
    * CONSTANT while corpus grows, and within-bucket pair counts grow
    * quadratically (measured 64x on a 10x corpus before the fix).
    *
    * Corpus size for the auto-sizing comes from (in order):
    * `corpusSize` if the caller knows it (at 100 TB: from table stats /
    * a manifest, not a scan); the optimizer's ROW COUNT statistic when
    * present (CBO/ANALYZE); otherwise one exact `count()` (on a parquet
    * scan this is footer-metadata cheap). A sizeInBytes/row-width
    * heuristic was tried and REVERTED: byte size is compression-
    * dependent, and a duplicate-heavy corpus (the exact case dedup
    * exists for) RLE-compresses so well that it underestimated n and
    * under-sized the buckets — measured 97x vs 46x on the 10x probe.
    * Underestimating n is quadratic blowup; an extra count() job is
    * noise next to that.
    *
    * `multiProbe = P > 0` additionally probes, per table, the P buckets
    * obtained by flipping the P sign bits with the smallest |margin|
    * (query-directed multi-probe, Lv et al. VLDB'07): a vector near a
    * hyperplane is the one whose neighbors land on the other side, so
    * flipping exactly those bits recovers most cross-boundary pairs.
    * One flipped bucket ~ doubles per-table recall near the boundary,
    * so P=1 with L tables ≈ the recall of 2L single-probe tables while
    * hashing (and shuffling) half the rows: probes multiply the probe
    * SIDE only (L·(P+1) rows) while the indexed side stays at L rows,
    * vs 2L on BOTH sides for doubled tables.
    */
  def lshNearDupPairs(emb: DataFrame, threshold: Double,
                      bitsPerTable: Int = 0, nTables: Int = 8,
                      dim: Int = 64, idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      corpusSize: Long = 0L,
                      multiProbe: Int = 0): DataFrame = {
    val cand = lshCandidatePairs(emb, bitsPerTable, nTables, dim, idCol,
      vecCol, corpusSize, multiProbe)
    val va = emb.select(col(idCol).as("id_a"), col(vecCol).as("va"),
      norm(col(vecCol)).as("na"))
    val vb = emb.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
      norm(col(vecCol)).as("nb"))
    cand.join(va, "id_a").join(vb, "id_b")
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cosine"))
  }

  /** The deterministic candidate-generation prefix of
    * [[lshNearDupPairs]]: distinct id pairs sharing any (table, bucket)
    * key. Exposed separately because — unlike the thresholded output,
    * whose recall is probabilistic — this stage is exactly reproducible
    * by an external engine from the literal hyperplanes, so the driver
    * oracle can hash-check it (q50).
    */
  def lshCandidatePairs(emb: DataFrame,
                        bitsPerTable: Int = 0, nTables: Int = 8,
                        dim: Int = 64, idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        corpusSize: Long = 0L,
                        multiProbe: Int = 0): DataFrame = {
    val bits =
      if (bitsPerTable > 0) bitsPerTable
      else {
        val n =
          if (corpusSize > 0L) corpusSize.toDouble
          else emb.queryExecution.optimizedPlan.stats.rowCount
            .map(_.toDouble)
            .getOrElse(emb.count().toDouble)
        math.max(4, math.ceil(math.log(math.max(n, 64.0) / 64.0) / math.log(2.0)).toInt)
      }
    require(multiProbe >= 0 && multiProbe <= bits, s"multiProbe in [0, $bits]")
    def plane(bit: Int): Column = array((0 until dim).map { d =>
      lit(planeComponent(bit, d))
    }: _*)
    // one margin vector per table, materialized by the Generate so each
    // DotProduct evaluates exactly once per (row, plane) — bucket
    // strings below only re-read the exploded attribute
    def tableMargins(t: Int): Column =
      array((0 until bits).map(j => dot(col(vecCol), plane(t * bits + j))): _*)
    val margins = emb.select(col(idCol),
      posexplode(array((0 until nTables).map(tableMargins): _*))
        .as(Seq("tbl", "margins")))
    def bucketFlipping(flip: Column): Column = concat_ws("",
      transform(col("margins"), (m, i) =>
        when((m >= 0) =!= (i === flip), lit(1)).otherwise(lit(0))))
    val base = bucketFlipping(lit(-1))
    val a = margins.select(col("tbl"), base.as("bucket"), col(idCol).as("id_a"))
    val b =
      if (multiProbe == 0)
        margins.select(col("tbl"), base.as("bucket"), col(idCol).as("id_b"))
      else {
        // indices of the multiProbe smallest |margins|: sort (|m|, i)
        // pairs once per row, slice — bits is small (<= ~20)
        val ranked = slice(array_sort(transform(col("margins"),
          (m, i) => struct(abs(m).as("a"), i.as("i")))), 1, multiProbe)
        val probes = concat(array(base),
          transform(ranked, r => bucketFlipping(r.getField("i"))))
        margins.select(col("tbl"), explode(probes).as("bucket"),
          col(idCol).as("id_b"))
      }
    // candidate ids only — dedup across tables BEFORE vectors are
    // attached, so the distinct's shuffle carries 16 bytes per pair,
    // not two embeddings. Symmetric (P=0) joins see both orientations,
    // so keep only id_a < id_b pre-shuffle; probed matches can surface
    // in one orientation only, so canonicalize via least/greatest.
    val joined = a.join(b, Seq("tbl", "bucket"))
    (if (multiProbe == 0)
      joined.filter(col("id_a") < col("id_b")).select("id_a", "id_b")
    else
      joined.filter(col("id_a") =!= col("id_b"))
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"))
      ).distinct()
  }

  /** The hyperplane component for global bit index `bit`, dimension
    * `d` — public so the q50 oracle SQL can embed the identical
    * literals.
    *
    * The raw rolling hash is POLYNOMIAL — linear in the trailing
    * character — so `hash("b:0"), hash("b:1"), ...` differ by exactly 1
    * and the planes came out as consecutive ramps, heavily correlated
    * across bits (spotted in the q50 plan's literals). A splitmix-style
    * avalanche finalizer decorrelates them; plane quality directly sets
    * how independent the per-table sign bits are.
    */
  def planeComponent(bit: Int, d: Int): Double = {
    var h = graft.expressions.RollingHash.hash(s"$bit:$d")
    h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
    h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
    h ^= (h >>> 31)
    (((h % 1000L) + 1000L) % 1000L) / 1000.0 - 0.5
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication"): semantic
    * near-duplicate detection by clustering embeddings and comparing
    * ONLY within-cluster pairs.
    *
    * Scale shape: assignment is ONE codegen'd corpus scan against
    * literal centroids ([[graft.ml.KMeansTrainer.assign]] — no
    * crossJoin, no window); the self-join shuffles both sides once on
    * `bucket`, so pair work is Σᵢ cᵢ² for cluster sizes cᵢ instead of
    * n² — with k sized so clusters hold ~10³–10⁴ docs, a 100 TB corpus
    * pays k · (n/k)² = n²/k comparisons spread across bucket
    * partitions. Cross-cluster near-dups are missed by construction
    * (the paper's accepted trade); recall vs the exact O(n²) variant
    * is asserted in SimilaritySpec.
    *
    * Returns within-cluster pairs (id_a < id_b) with cosine >= tau.
    */
  def semDedupPairs(emb: DataFrame, model: graft.ml.KMeansTrainer.KMeansModel,
                    tau: Double, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val assigned = graft.ml.KMeansTrainer.assign(emb, model, idCol, vecCol)
    // norms are per-vector: computed on each side pre-join, never per pair
    val a = assigned.select(col("bucket"), col(idCol).as("id_a"),
      col(vecCol).as("va"), norm(col(vecCol)).as("na"))
    val b = assigned.select(col("bucket"), col(idCol).as("id_b"),
      col(vecCol).as("vb"), norm(col(vecCol)).as("nb"))
    a.join(b, "bucket").filter(col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= tau)
      .select(col("bucket"), col("id_a"), col("id_b"),
        round(col("cos"), 6).as("cosine"))
  }

  /** Full SemDeDup audit: every vector with its cluster, its
    * semantic-duplicate group's canonical exemplar (component min id —
    * the library-wide deterministic keep rule), and whether it
    * survives. Duplicate groups are connected components of the
    * within-cluster >= tau graph ([[graft.core.Dedup.resolveSurvivors]]
    * — driver union-find under a bounded edge count, star-contraction
    * rounds beyond it).
    */
  def semDedup(emb: DataFrame, model: graft.ml.KMeansTrainer.KMeansModel,
               tau: Double, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    val pairs = semDedupPairs(emb, model, tau, idCol, vecCol)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val assigned = graft.ml.KMeansTrainer.assign(emb, model, idCol, vecCol)
      .select(col(idCol), col("bucket"))
    Dedup.resolveSurvivors(assigned, idCol, pairs)
  }

  /** Per-label centroid: mean embedding by label, emitted flat as
    * (label, dim, value) rows so results stay scalar-typed.
    */
  def labelCentroids(embeddings: DataFrame, labelCol: String = "label",
                     vecCol: String = "embedding"): DataFrame =
    embeddings
      .select(col(labelCol), posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col(labelCol), col("dim"))
      .agg(avg(col("v").cast("double")).as("mean_v"), count(lit(1)).as("n"))

  /** Elementwise-sum aggregate over an `array<double>` column — native
    * [[graft.expressions.VectorSum]] (map-side combine on whole
    * vectors; the exchange carries groups×dim doubles, not rows×dim
    * exploded rows).
    */
  def vectorSum(vec: Column): Column =
    org.apache.spark.sql.GraftShim.column(
      graft.expressions.VectorSum(
        org.apache.spark.sql.GraftShim.expression(vec)).toAggregateExpression())

  /** [[labelCentroids]] on the native aggregate: ONE group per label
    * pre-shuffle (vs one per label×dim), exploded to the same flat
    * (label, dim, mean_v, n) shape only AFTER aggregation — identical
    * results (q26's oracle pins both), ~dim× less exchange traffic.
    */
  def labelCentroidsNative(embeddings: DataFrame, labelCol: String = "label",
                           vecCol: String = "embedding"): DataFrame =
    embeddings
      .groupBy(col(labelCol))
      .agg(vectorSum(col(vecCol).cast("array<double>")).as("sv"),
        count(col(vecCol)).as("n"))
      .select(col(labelCol), posexplode(col("sv")).as(Seq("dim", "sv")),
        col("n"))
      .select(col(labelCol), col("dim"), (col("sv") / col("n")).as("mean_v"), col("n"))

  // ---- index-quality evaluation ------------------------------------

  /** Recall@k of an approximate ranking against the exact one — the
    * index-quality gate an ANN serving layer runs after every build /
    * append (the measured number that justifies an nProbe / bucket
    * setting at scale, instead of hoping). Both inputs are k-bounded
    * per query by construction, so the evaluation costs
    * O(queries × k) rows regardless of corpus size.
    *
    * Inputs are (query_id, rank, neighbor_id)-shaped (extra columns
    * ignored); `exact` defines the query universe, so a query whose
    * approximate list missed everything still reports n_hit = 0.
    *
    * @return (query_id, n_hit, k, recall_micro) with
    *         recall_micro = n_hit·1e6 DIV k — exact integer, the
    *         fixed-point discipline.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    val hits = exact.select("query_id", "neighbor_id")
      .join(approx.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "leftsemi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    exact.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        lit(k.toLong).as("k"),
        expr(s"CAST(coalesce(n_hit, 0) * 1000000 AS BIGINT) DIV $k")
          .as("recall_micro"))
  }

  // ---- diversified selection (MMR) ---------------------------------

  /** Maximal-Marginal-Relevance diversified top-k (Carbonell &
    * Goldstein, SIGIR '98): greedily select the candidate maximizing
    * relWeight·rel(q,d) − divWeight·max_{s∈S} cos(d,s), trading
    * relevance against redundancy — the diverse-exemplar sampler of a
    * training-data pipeline (few-shot pool selection, diversity-aware
    * eval-set construction, dedup-adjacent curation).
    *
    * Scale shape: stage 1 is the audited exact-top-`poolSize`
    * candidate path (broadcast queries, ONE corpus scan, per-query
    * rank window); the greedy stage then runs per query over its own
    * ≤ poolSize pool inside `flatMapGroups` — bounded state
    * (poolSize·dim floats), distributed by query id, ≤ k·poolSize
    * dot products per query, never a driver loop. At index scale
    * stage 1 swaps for [[ivfTopK]] / the snapshot-table probe
    * unchanged.
    *
    * Determinism: every double op is ordered identically to the
    * DuckDB oracle — dots fold left over dims ([[dot]]'s order),
    * the score is literally relWeight·rel − divWeight·maxSim
    * (divWeight is a PARAMETER, not 1 − relWeight: 1.0 − 0.7 is
    * 0.30000000000000004 in IEEE, and the oracle must parse the same
    * exact decimal), maxSim over the selected set is an order-free
    * max, ties break on candidate id ascending.
    *
    * @return (query_id, rank, doc_id, mmr_micro) — rank 1..k in
    *         selection order, mmr_micro = floor(1e6·score) BIGINT.
    */
  def mmrTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              poolSize: Int = 20, relWeight: Double = 0.7,
              divWeight: Double = 0.3,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      norm(col(vecCol)).as("q_n"))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("c_vec"),
      norm(col(vecCol)).as("c_n"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("rel",
        dot(col("q_vec"), col("c_vec")) / (col("q_n") * col("c_n")))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("rel"), asc("cand_id"))
    val pool = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= poolSize)
      .select(col("query_id"), col("cand_id"), col("rel"), col("c_vec"))
      .as[(Long, Long, Double, Array[Float])]
    pool.groupByKey(_._1)
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Double, Array[Float])]) =>
        // group iteration order is not deterministic — pin id order so
        // the strict `>` comparison tie-breaks on lowest candidate id
        val cands = it.toArray.sortBy(_._2)
        val n = cands.length
        // TRUE max cos to the selected set — it can be NEGATIVE, and
        // clamping at 0 would under-penalize near-orthogonal
        // candidates; −∞ init is never read (step 1 uses the 0.0
        // empty-set convention, and from step 2 every pool member has
        // a real sim to the selection — the pool is a complete graph)
        val maxSim = Array.fill(n)(Double.NegativeInfinity)
        val taken = new Array[Boolean](n)
        val out = Array.newBuilder[(Long, Long, Long, Long)]
        var step = 1
        val take = math.min(k, n)
        while (step <= take) {
          var best = -1
          var bestScore = 0.0
          var i = 0
          while (i < n) {
            if (!taken(i)) {
              val ms = if (step == 1) 0.0 else maxSim(i)
              val s = relWeight * cands(i)._3 - divWeight * ms
              if (best < 0 || s > bestScore) { best = i; bestScore = s }
            }
            i += 1
          }
          out += ((qid, step.toLong, cands(best)._2,
            math.floor(1e6 * bestScore).toLong))
          taken(best) = true
          // one pass folds the new selection into every survivor's
          // diversity term — k·poolSize dots total, not poolSize²
          var j = 0
          while (j < n) {
            if (!taken(j)) {
              val s = cosineArr(cands(j)._4, cands(best)._4)
              if (s > maxSim(j)) maxSim(j) = s
            }
            j += 1
          }
          step += 1
        }
        out.result().iterator
      }
      .toDF("query_id", "rank", "doc_id", "mmr_micro")
  }

  /** Plain-Scala cosine in the exact operation order of [[dot]] and
    * the oracle's list_reduce: left fold over dims in double, then
    * dot / (sqrt·sqrt).
    */
  private def cosineArr(a: Array[Float], b: Array[Float]): Double = {
    var ab = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    while (i < a.length) {
      ab += a(i).toDouble * b(i).toDouble
      aa += a(i).toDouble * a(i).toDouble
      bb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    ab / (math.sqrt(aa) * math.sqrt(bb))
  }
}
