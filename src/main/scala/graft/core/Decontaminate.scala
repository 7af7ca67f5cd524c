package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark decontamination: flag training documents that share word
  * n-grams with an evaluation/benchmark set — the standard pre-training
  * hygiene step (remove eval overlap from the training corpus so
  * benchmark numbers measure generalization, not memorization).
  *
  * Plan shape, chosen for the 100 TB asymmetry (train is huge, the
  * benchmark set is tiny): build the DISTINCT eval shingle set once
  * and stream the training corpus through one explode -> semi-join ->
  * per-doc count. The join carries no hint on purpose: AQE broadcasts
  * the eval side from its MEASURED size when it is small (the common
  * case — the training side then never shuffles except the final
  * per-doc aggregation of hits), and degrades to a shuffled hash join
  * on the shingle key when an outsized eval suite would blow the
  * broadcast limit. The code declares the join; the optimizer picks
  * the physical strategy.
  *
  * The reference pipeline has no decontamination analogue; this is a
  * training-data extension (shingle machinery shared with
  * [[Dedup.shingles]], reference transform surface at
  * `/root/reference/process_etl.py:20-24`).
  */
object Decontaminate {

  /** Per-training-doc contamination audit against an eval set.
    *
    * @param train    training documents (huge side)
    * @param eval     benchmark/eval documents (small side; broadcast)
    * @param n        shingle width in words — published pipelines use
    *                 8-13-gram overlap; pick n large enough that chance
    *                 collisions vanish
    * @param minHits  distinct shared shingles required to flag
    * @return every training row with `n_hits` (distinct eval shingles
    *         shared) and `contaminated` (n_hits >= minHits)
    */
  def flagContaminated(train: DataFrame, eval: DataFrame,
                       idCol: String, textCol: String,
                       n: Int = 8, minHits: Int = 1): DataFrame =
    flagAgainstKeys(train,
      eval.select(explode(Dedup.shingles(col(textCol), n))
        .as("shingle")).distinct(),
      idCol, textCol, n, minHits)

  /** The [[flagContaminated]] body over a prebuilt DISTINCT key set —
    * shared with [[flagContaminatedIndexed]] so the batch and
    * persisted-index faces run bit-identical plans.
    */
  private def flagAgainstKeys(train: DataFrame, evalShingles: DataFrame,
                              idCol: String, textCol: String,
                              n: Int, minHits: Int): DataFrame = {
    val trainShingles = train
      .select(col(idCol), explode(Dedup.shingles(col(textCol), n)).as("shingle"))
    // inner join against the eval set = semi-join with a hit count;
    // eval shingles are distinct so each (doc, shingle) match counts
    // once. NO broadcast hint: a hint would FORCE broadcast even when
    // a huge eval suite exceeds the broadcast limit and the job should
    // degrade to a shuffled join — AQE broadcasts small sides from
    // their measured runtime size instead.
    val hits = trainShingles
      .join(evalShingles, "shingle")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
    train.join(hits, Seq(idCol), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("contaminated", col("n_hits") >= minHits)
  }

  /** Decontaminated corpus: training rows with fewer than `minHits`
    * shared n-grams against the eval set.
    */
  def clean(train: DataFrame, eval: DataFrame, idCol: String,
            textCol: String, n: Int = 8, minHits: Int = 1): DataFrame =
    flagContaminated(train, eval, idCol, textCol, n, minHits)
      .filter(!col("contaminated"))
      .drop("n_hits", "contaminated")

  /** SPAN-level decontamination — where [[flagContaminated]] flags
    * whole documents and [[clean]] drops them, this REWRITES: every
    * training token lying inside any `n`-token window that matches an
    * eval-set n-gram is removed (all its occurrences), and each doc
    * re-emits from its survivors — the Lee et al. 2022 ExactSubstr
    * rewrite with the EVAL SUITE as the duplicate source instead of
    * the corpus itself, salvaging the uncontaminated remainder of
    * long documents a doc-level gate would discard whole.
    *
    * Mechanics are [[SuffixArray.exactSubstrDedup]]'s verbatim: mark
    * duplicate window STARTS (here: train grams semi-joined against
    * the distinct eval gram keys — broadcast-friendly, never a gram
    * window), turn starts into covered-token marks with the per-doc
    * rowsBetween(−(n−1), 0) max window, rebuild each doc from
    * surviving tokens. Everything is doc- or gram-keyed; the eval
    * side is model-size by contract.
    *
    * Output: one row per TRAINING document — (idCol, clean_text,
    * n_tokens, n_removed); a fully-contaminated doc comes back with
    * empty clean_text (downstream decides).
    */
  def scrubSpans(train: DataFrame, eval: DataFrame, idCol: String,
                 textCol: String, n: Int = 8): DataFrame = {
    require(n >= 2, "n must be >= 2")
    scrubAgainstKeys(train,
      SuffixArray.gramRows(
        SuffixArray.tokenized(eval, idCol, textCol), n)
        .select("g").distinct(),
      idCol, textCol, n)
  }

  /** The [[scrubSpans]] rewrite tail over a prebuilt DISTINCT gram
    * key set — shared with [[scrubSpansIndexed]] /
    * [[scrubSpansIncremental]] so batch and persisted-index faces
    * run identical plans. Keys that are not exactly n tokens wide
    * (the index keeps short-doc shingles for the doc-level face) can
    * never equal an n-token train gram, so passing the full index
    * key set is exact.
    */
  private def scrubAgainstKeys(train: DataFrame, evalKeys: DataFrame,
                               idCol: String, textCol: String,
                               n: Int): DataFrame = Materialize.scope {
    val docs = Materialize.persist(SuffixArray.tokenized(train, idCol, textCol))
    val dupStarts = SuffixArray.gramRows(docs, n)
      .join(evalKeys, Seq("g"), "left_semi")
      .select(col("sa_doc"), col("pos"), lit(1L).as("ds"))
    Materialize.localCheckpoint(
      SuffixArray.rewriteMarked(docs, dupStarts, n, idCol))
  }

  /** [[flagContaminated]] behind a BLOOM PRE-FILTER — the 100 TB
    * shape of benchmark decontamination: the eval suite's shingles
    * build a [[Sketches.bloomBuild]] relational filter once
    * (model-size; collected to a [[Sketches.bloomWords]] literal
    * array), every training shingle probes it as a codegen'd bit
    * test INSIDE its own projection ([[Sketches.bloomTestLit]] — no
    * distinct, no probe join, no re-aggregation), and only the
    * surviving CANDIDATES enter the exact verification join. At
    * production FPR (~1% at 10 bits/key) the exact join's probe side
    * shrinks by ~99% — the train shingle stream never shuffles, it
    * genuinely dies at the bit test. Train parquet is read twice
    * (totals pass + verify pass) — deliberate; see the body comment.
    *
    * Exactness is NOT approximated: a bloom filter has no false
    * negatives, so `n_hits`/`contaminated` equal [[flagContaminated]]
    * bit-for-bit (`BloomSpec` gates it); false positives only cost
    * verification work, surfaced per doc as `n_candidates` (the gate
    * pins the pre-filter's selectivity relationally). The filter uses
    * the portable rollingHash→mix32 double-hash chain, so the WHOLE
    * pipeline — bits included — replays in SQL.
    *
    * Output: (idCol, n_shingles, n_candidates, n_hits, contaminated),
    * one row per training doc; shingles are per-doc DISTINCT (the
    * [[Dedup.shingles]] contract).
    */
  def flagContaminatedBloom(train: DataFrame, eval: DataFrame,
                            idCol: String, textCol: String,
                            n: Int = 8, minHits: Int = 1,
                            numBits: Int = 1 << 20,
                            numHashes: Int = 4): DataFrame = {
    // eval shingles materialize ONCE (model-size by contract) and
    // feed both the filter build and the exact verify join — the
    // previous shape re-derived them per consumer (ADVICE r14). A
    // LAZY persist, not an eager localCheckpoint: the bloomWords
    // collect below materializes it as part of its own job, the
    // verify join then reads the cache, and the whole operator stays
    // at TWO jobs (collect + the main action) — the checkpoint
    // variant paid a third eager job whose fixed overhead dominated
    // at bench scale. The cached relation is eval-suite-sized and
    // lives until the caller's scope ends (the trainBigram model-table
    // convention).
    val evalShingles = Materialize.persist(eval
      .select(explode(Dedup.shingles(col(textCol), n)).as("shingle"))
      .distinct())
    val words = Sketches.bloomWords(
      Sketches.bloomBuild(evalShingles, col("shingle"), numBits,
        numHashes), numBits)
    val trainShingles = train
      .select(col(idCol),
        explode(Dedup.shingles(col(textCol), n)).as("shingle"))
    // the probe is a literal-array bit test INSIDE the projection
    // ([[Sketches.bloomTestLit]]) — no distinct, no probe join, no
    // re-aggregation of the train shingle stream
    val marked = trainShingles.withColumn("__hit",
      Sketches.bloomTestLit(col("shingle"), words, numBits, numHashes))
    // pass 1: per-doc totals — nothing here shuffles except the
    // map-side-combinable doc-keyed aggregation
    val perDoc = marked.groupBy(idCol).agg(
      count(lit(1)).as("n_shingles"),
      sum(when(col("__hit"), 1L).otherwise(0L)).as("n_candidates"))
    // pass 2: only the bloom survivors (~1% at production FPR) enter
    // the exact verify join. The train side is scanned TWICE on
    // purpose: fusing the passes means either persisting the exploded
    // shingle stream (≫ source bytes at 100 TB) or joining the
    // UNFILTERED stream against eval (the full-stream shuffle the
    // bloom exists to avoid once the eval side outgrows broadcast) —
    // re-reading column-pruned parquet is the cheapest of the three.
    val hits = marked.filter(col("__hit"))
      .join(evalShingles, "shingle")
      .groupBy(idCol).agg(count(lit(1)).as("n_hits"))
    train.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) >= minHits)
          .as("contaminated"))
  }

  /** SEMANTIC (embedding-space) decontamination — the companion the
    * n-gram faces structurally cannot replace: a PARAPHRASED eval
    * item shares no 8-gram with its source but sits next to it in
    * embedding space (the practice reported by recent model cards:
    * cosine-similarity screening of training data against benchmark
    * embeddings). Flags every training doc whose embedding reaches
    * `threshold` cosine against ANY eval embedding, with the nearest
    * eval doc as provenance.
    *
    * Plan: the eval suite is model-size by contract → one broadcast
    * cross + one map-side-combinable per-doc argmax (a struct max —
    * highest ROUNDED cosine, ties to the LOWEST eval id; the rounded
    * key is what makes per-version deltas fold exactly, see
    * [[flagContaminatedEmbeddingIncremental]]): the training side
    * is scanned once and never shuffles payloads. Past broadcast
    * size, the same flag composes from the IVF candidate machinery
    * ([[Similarity]]'s probeBuckets/ivfTopK, the q27/q100 shapes) at
    * the documented recall trade — this exact face is that path's
    * oracle. The threshold compares the UNROUNDED cosine (the
    * hardNegatives convention); rounding happens only in the output
    * projection.
    *
    * Output: (idCol, max_cosine, nearest_eval_id, contaminated).
    */
  def flagContaminatedEmbedding(train: DataFrame, eval: DataFrame,
                                threshold: Double,
                                idCol: String = "vec_id",
                                vecCol: String = "embedding"): DataFrame = {
    val t = zeroNormGuard(train.select(col(idCol).as("t_id"),
      col(vecCol).as("tv"), Similarity.norm(col(vecCol)).as("tn")),
      "tn", "t_id", "train")
    val e = zeroNormGuard(eval.select(col(idCol).as("e_id"),
      col(vecCol).as("ev"), Similarity.norm(col(vecCol)).as("en")),
      "en", "e_id", "eval")
    // argmax by the ROUNDED cosine (ties to the lowest eval id), so
    // a per-version delta folds to the batch result EXACTLY
    // (max ∘ round = round ∘ max — rounding is monotone — and the
    // tie rule is deterministic on what the deltas carry); the
    // contamination THRESHOLD still compares the unrounded maximum
    // (the hardNegatives convention)
    screenFold(t.crossJoin(broadcast(e))
      .withColumn("cos",
        Similarity.dot(col("tv"), col("ev")) / (col("tn") * col("en"))),
      threshold, idCol)
  }

  /** The semantic family's shared per-doc fold over scored
    * (t_id, e_id, cos) pairs: argmax by the ROUNDED cosine (ties to
    * the lowest eval id — what makes version deltas fold exactly),
    * threshold against the UNROUNDED maximum. Map-side combinable;
    * identical between the broadcast, indexed and IVF faces, so
    * "exact face == batch face" is equality of the pair sets, not of
    * two reimplementations.
    */
  private def screenFold(scored: DataFrame, threshold: Double,
                         idCol: String): DataFrame =
    scored.groupBy(col("t_id").as(idCol))
      .agg(max(struct(round(col("cos"), 6).as("c"),
          (-col("e_id")).as("ne"))).as("m"),
        max(col("cos")).as("mx"))
      .select(col(idCol), col("m.c").as("max_cosine"),
        (-col("m.ne")).as("nearest_eval_id"),
        (col("mx") >= threshold).as("contaminated"))

  /** Loud per-row zero-norm guard on an embedding side: a zero (or
    * null) vector makes the cosine 0/0 = NaN, and under Spark's NaN
    * ordering NaN wins the max — ONE degenerate vector would silently
    * flag every crossed training doc. Raise instead, naming the
    * offending row (the [[Similarity.lof]] loud-guard discipline,
    * evaluated inside the scan — codegen'd, no extra pass; the
    * always-NULL assert column is filtered, not projected).
    */
  private def zeroNormGuard(df: DataFrame, normCol: String,
                            idColName: String, side: String): DataFrame =
    df.withColumn("__ok", assert_true(col(normCol) > 0, concat(
        lit(s"flagContaminatedEmbedding: zero-norm $side embedding " +
          s"$idColName="), col(idColName),
        lit(" — cosine is undefined; drop or re-embed degenerate rows"))))
      .filter(col("__ok").isNull).drop("__ok")

  /** Create/extend the persisted EVAL-EMBEDDING index behind
    * [[flagContaminatedEmbeddingIndexed]] /
    * [[flagContaminatedEmbeddingIncremental]] — the
    * [[writeEvalShingleIndex]] discipline for the semantic face, so
    * all three decontamination modalities (doc-level n-gram,
    * span-level, embedding) share one persistence story. Rows are
    * (eval_doc, embedding) verbatim; append-only because a doc's
    * embedding is a pure function of the doc. Pass (`txnAppId`,
    * `txnVersion`) for replay-safe appends.
    */
  def writeEvalEmbeddingIndex(eval: DataFrame, idCol: String,
                              vecCol: String, indexDir: String,
                              txnAppId: String = null,
                              txnVersion: Long = -1L): Unit = {
    val rows = eval.select(col(idCol).as("eval_doc"),
      col(vecCol).as("embedding"))
    if (txnAppId == null)
      graft.sources.SnapshotTable.append(rows, indexDir)
    else
      graft.sources.SnapshotTable.appendIdempotent(rows, indexDir,
        txnAppId, txnVersion)
  }

  /** [[flagContaminatedEmbedding]] against the persisted index — a
    * new TRAINING batch screens against the accumulated suite
    * without re-reading eval sources. Bit-identical to the batch
    * face over the indexed union (`DecontamIndexSpec`).
    *
    * `maxIndexRows` is a loud guard on the ONE monotonically-growing
    * input this face broadcasts: the index only ever appends (new
    * suite versions), so the day it outgrows the broadcast budget
    * must fail with a named escape hatch, not an executor OOM.
    * Evaluated as a one-row count relation crossed into the plan
    * (the [[Similarity.lof]] discipline) — no eager driver action.
    * Past the cap, screen with [[flagContaminatedEmbeddingIvf]]
    * (same result at nProbe = 0) or raise the cap deliberately.
    */
  def flagContaminatedEmbeddingIndexed(spark: SparkSession,
                                       train: DataFrame,
                                       indexDir: String,
                                       threshold: Double,
                                       idCol: String = "vec_id",
                                       vecCol: String = "embedding",
                                       maxIndexRows: Long = 1000000L)
      : DataFrame = {
    val idx = graft.sources.SnapshotTable.read(spark, indexDir)
    val guard = idx.agg(count(lit(1)).as("__n"))
      .select(assert_true(col("__n") <= lit(maxIndexRows), concat(
        lit("flagContaminatedEmbeddingIndexed: eval-embedding index " +
          "has "), col("__n"),
        lit(s" rows (cap $maxIndexRows) — beyond broadcast; use " +
          "flagContaminatedEmbeddingIvf, or raise maxIndexRows for " +
          "a deliberate oversized broadcast"))).as("__ok"))
    flagContaminatedEmbedding(train,
      idx.crossJoin(broadcast(guard)).filter(col("__ok").isNull)
        .select(col("eval_doc").as(idCol),
          col("embedding").as(vecCol)),
      threshold, idCol, vecCol)
  }

  /** BEYOND-BROADCAST semantic screening: the persisted eval-embedding
    * index is IVF-bucketed against `centroids` (a model-size artifact,
    * the [[Similarity.ivfTopK]] regime) and the training side probes
    * buckets instead of crossing a broadcast eval set — the eval side
    * shuffles once on `bucket`, per-task state is one bucket of eval
    * vectors (not the whole suite), and the per-doc fold is the same
    * map-side-combinable [[screenFold]] as every other face.
    *
    *   - `nProbe <= 0` (default) probes EVERY bucket — the exact
    *     face: each (train, eval) pair is scored exactly once, so the
    *     result equals [[flagContaminatedEmbedding]] bit-for-bit
    *     (same per-pair expression, same fold) with cross-product
    *     work but bounded per-task memory. This face carries the
    *     full oracle (q331 replays the broadcast oracle verbatim).
    *   - `nProbe >= 1` probes each training doc's nProbe nearest
    *     centroids — the production trade at suite scale: recall
    *     < 1 by construction, gated against the exact face in
    *     `DecontamIndexSpec`, never against the SQL oracle. A doc
    *     whose probed buckets hold no eval vector emits no row.
    *
    * Flags and provenance match the batch face's contract:
    * (idCol, max_cosine, nearest_eval_id, contaminated).
    */
  def flagContaminatedEmbeddingIvf(spark: SparkSession,
                                   train: DataFrame, indexDir: String,
                                   centroids: DataFrame,
                                   threshold: Double, nProbe: Int = 0,
                                   idCol: String = "vec_id",
                                   vecCol: String = "embedding")
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e0 = graft.sources.SnapshotTable.read(spark, indexDir)
      .select(col("eval_doc").as(idCol), col("embedding").as(vecCol))
    val eb = zeroNormGuard(
      Similarity.assignBuckets(e0, centroids, idCol, vecCol)
        .select(col(idCol).as("e_id"), col(vecCol).as("ev"),
          col("bucket"))
        .withColumn("en", Similarity.norm(col("ev"))),
      "en", "e_id", "eval")
    val t = zeroNormGuard(train.select(col(idCol).as("t_id"),
      col(vecCol).as("tv"), Similarity.norm(col(vecCol)).as("tn")),
      "tn", "t_id", "train")
    val probed =
      if (nProbe <= 0)
        // exact face: replicate each training row to every bucket —
        // a broadcast of the model-size centroid-id list, no window
        t.crossJoin(broadcast(
          centroids.select(col("centroid_id").as("bucket"))))
      else {
        val c = centroids.select(col("centroid_id"),
          col(vecCol).as("cent_vec"))
        val w = Window.partitionBy("t_id")
          .orderBy(desc("cos_c"), asc("centroid_id"))
        t.crossJoin(broadcast(c))
          .withColumn("cos_c",
            Similarity.cosine(col("tv"), col("cent_vec")))
          .withColumn("__r", row_number().over(w))
          .filter(col("__r") <= nProbe)
          .select(col("t_id"), col("tv"), col("tn"),
            col("centroid_id").as("bucket"))
      }
    screenFold(probed.join(eb, "bucket")
      .withColumn("cos",
        Similarity.dot(col("tv"), col("ev")) / (col("tn") * col("en"))),
      threshold, idCol)
  }

  /** NEW EVAL VERSION delta for the semantic face: append the batch
    * embeddings, then screen the training corpus against ONLY the
    * batch's vectors. Folding is EXACT because max is associative:
    * per-doc (max_cosine, nearest) folds by keeping the higher
    * cosine (ties to the lower eval id — the same argmax rule as
    * the batch face), and a new suite version can only RAISE a
    * doc's max. `DecontamIndexSpec` gates folded == batch.
    *
    * @return (idCol, max_cosine, nearest_eval_id, contaminated) vs
    *         the BATCH's vectors only (the delta to fold)
    */
  def flagContaminatedEmbeddingIncremental(spark: SparkSession,
                                           train: DataFrame,
                                           newEval: DataFrame,
                                           indexDir: String,
                                           threshold: Double,
                                           idCol: String = "vec_id",
                                           vecCol: String = "embedding",
                                           txnAppId: String = null,
                                           txnVersion: Long = -1L)
      : DataFrame = {
    writeEvalEmbeddingIndex(newEval, idCol, vecCol, indexDir,
      txnAppId, txnVersion)
    flagContaminatedEmbedding(train, newEval, threshold, idCol, vecCol)
  }

  // --- persisted / incremental eval-suite index -------------------
  //
  // Eval suites GROW (new benchmark versions, new held-out sets) and
  // training corpora GROW (new crawl batches) — the batch faces above
  // re-shingle the eval suite per run and can only answer "the whole
  // corpus vs the whole suite". The index below is the
  // [[Dedup.writeFingerprintIndex]] / [[SuffixArray.writeGramIndex]]
  // discipline applied to decontamination state: eval shingles
  // persist ONCE into a transactional [[graft.sources.SnapshotTable]]
  // keyed (eval_doc, shingle); each face then answers its delta —
  //   • new TRAIN batch, stable suite → probe the index's distinct
  //     keys ([[flagContaminatedIndexed]]/[[scrubSpansIndexed]]);
  //     eval text is never re-shingled;
  //   • new EVAL version, existing corpus → probe only the keys the
  //     batch NEWLY added ([[flagContaminatedIncremental]]) or
  //     re-scrub only the docs holding such a key
  //     ([[scrubSpansIncremental]]).
  // Appends are sound because a doc's shingle set is a pure function
  // of its own text — suite growth only ADDS rows, nothing persisted
  // ever rewrites (the property that made gram counts persistable
  // where suffix-array ranks were not).

  /** Create/extend the persisted eval-shingle index: every
    * (eval_doc, shingle) of the batch appended transactionally. Rows
    * persist PER EVAL DOC (not pre-distincted): provenance survives
    * (WHICH benchmark doc a training doc collides with), and
    * batch-vs-history key novelty stays decidable at probe time.
    * Pass (`txnAppId`, `txnVersion`) for replay-safe appends. New
    * batches must carry NEW eval doc ids (suite versions, not
    * in-place edits — the append-only contract of every incremental
    * face here).
    */
  def writeEvalShingleIndex(eval: DataFrame, idCol: String,
                            textCol: String, indexDir: String,
                            n: Int = 8, txnAppId: String = null,
                            txnVersion: Long = -1L): Unit = {
    val rows = eval.select(col(idCol).as("eval_doc"),
      explode(Dedup.shingles(col(textCol), n)).as("shingle"))
    if (txnAppId == null)
      graft.sources.SnapshotTable.append(rows, indexDir)
    else
      graft.sources.SnapshotTable.appendIdempotent(rows, indexDir,
        txnAppId, txnVersion)
  }

  /** Shingle keys a just-appended eval batch NEWLY added: present
    * among the batch docs' rows, absent from every pre-batch row.
    * Both sides come from the INDEX (already appended), so the scan
    * + distinct is shared and the eval text is never re-shingled.
    */
  private def freshKeys(spark: SparkSession, newEval: DataFrame,
                        idCol: String, indexDir: String): DataFrame = {
    val idx = graft.sources.SnapshotTable.read(spark, indexDir)
    val newIds = newEval.select(col(idCol).as("eval_doc")).distinct()
    val batchKeys = idx.join(newIds, Seq("eval_doc"), "left_semi")
      .select("shingle").distinct()
    val oldKeys = idx.join(newIds, Seq("eval_doc"), "left_anti")
      .select("shingle").distinct()
    batchKeys.join(oldKeys, Seq("shingle"), "left_anti")
  }

  /** [[flagContaminated]] against the PERSISTED index — the
    * steady-state face for a NEW TRAINING BATCH under a stable
    * suite: the batch probes the index's distinct keys; eval text is
    * never re-shingled. Bit-identical to [[flagContaminated]] of the
    * indexed eval union (`DecontamIndexSpec`).
    */
  def flagContaminatedIndexed(spark: SparkSession, train: DataFrame,
                              indexDir: String, idCol: String,
                              textCol: String, n: Int = 8,
                              minHits: Int = 1): DataFrame =
    flagAgainstKeys(train,
      graft.sources.SnapshotTable.read(spark, indexDir)
        .select("shingle").distinct(),
      idCol, textCol, n, minHits)

  /** NEW EVAL VERSION delta: append the batch's shingles, then probe
    * the training corpus against ONLY the keys this batch newly
    * added. Returns (idCol, n_hits_delta) for training docs gaining
    * ≥ 1 new hit; folding deltas (per-doc sum over an initial zero
    * state) reproduces [[flagContaminated]] of the full eval union
    * EXACTLY, because hits count DISTINCT shared shingles and each
    * distinct key is fresh in exactly one batch (`DecontamIndexSpec`
    * gates folded == batch, plus a streaming foreachBatch case).
    *
    * Per-batch cost: one index scan (batch-vs-history key split) +
    * one training probe restricted to the fresh keys — the corpus
    * stream dies at a semi join against a (typically tiny) new-key
    * set instead of re-proving every historical hit.
    */
  def flagContaminatedIncremental(spark: SparkSession, train: DataFrame,
                                  newEval: DataFrame, indexDir: String,
                                  idCol: String, textCol: String,
                                  n: Int = 8, txnAppId: String = null,
                                  txnVersion: Long = -1L): DataFrame = {
    writeEvalShingleIndex(newEval, idCol, textCol, indexDir, n,
      txnAppId, txnVersion)
    val fresh = freshKeys(spark, newEval, idCol, indexDir)
    train.select(col(idCol),
        explode(Dedup.shingles(col(textCol), n)).as("shingle"))
      .join(fresh, Seq("shingle"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("n_hits_delta"))
  }

  /** [[scrubSpans]] against the PERSISTED index — a new training
    * batch is span-scrubbed against the accumulated suite without
    * re-shingling eval text. Exact: index keys that are not n tokens
    * wide can never match an n-token train gram (see
    * [[scrubAgainstKeys]]).
    */
  def scrubSpansIndexed(spark: SparkSession, train: DataFrame,
                        indexDir: String, idCol: String,
                        textCol: String, n: Int = 8): DataFrame = {
    require(n >= 2, "n must be >= 2")
    scrubAgainstKeys(train,
      graft.sources.SnapshotTable.read(spark, indexDir)
        .select(col("shingle").as("g")).distinct(),
      idCol, textCol, n)
  }

  /** NEW EVAL VERSION delta for span scrubbing: append the batch,
    * find the AFFECTED training docs (those holding ≥ 1 newly-added
    * key), and re-scrub ONLY those against the FULL accumulated key
    * set. Unaffected docs' rewrites are provably unchanged — a doc
    * with no fresh-key gram has the same gram→key match set as
    * before — so folding each delta over previous outputs (replace
    * rows by id) reproduces [[scrubSpans]] of the eval union exactly
    * (`DecontamIndexSpec`).
    *
    * @return rewritten rows for AFFECTED docs only (the delta)
    */
  def scrubSpansIncremental(spark: SparkSession, train: DataFrame,
                            newEval: DataFrame, indexDir: String,
                            idCol: String, textCol: String,
                            n: Int = 8, txnAppId: String = null,
                            txnVersion: Long = -1L): DataFrame = {
    require(n >= 2, "n must be >= 2")
    writeEvalShingleIndex(newEval, idCol, textCol, indexDir, n,
      txnAppId, txnVersion)
    val fresh = freshKeys(spark, newEval, idCol, indexDir)
      .select(col("shingle").as("g"))
    val affectedIds = SuffixArray.gramRows(
        SuffixArray.tokenized(train, idCol, textCol), n)
      .join(fresh, Seq("g"), "left_semi")
      .select(col("sa_doc").as(idCol)).distinct()
    val affected = train.join(affectedIds, Seq(idCol), "left_semi")
    scrubAgainstKeys(affected,
      graft.sources.SnapshotTable.read(spark, indexDir)
        .select(col("shingle").as("g")).distinct(),
      idCol, textCol, n)
  }
}
