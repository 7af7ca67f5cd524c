package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the composed pipeline a training-data
  * run actually executes over raw documents:
  *
  *   1. quality score + language ID   (one scan, zero shuffles)
  *   2. quality gate                  (cheap filter FIRST — at 100 TB
  *                                     this drops rows before anything
  *                                     pays a shuffle)
  *   3. exact dedup                   (one exchange on text hash)
  *   4. n-gram Jaccard near-dup       (inverted index, two exchanges)
  *   5. cluster resolution            (bounded label propagation)
  *
  * Output is a full per-document audit, not just the survivors: every
  * input doc appears once with its disposition at each stage, so the
  * drop reasons are queryable (the shape lineage/debugging needs).
  * Downstream corpus = `.filter(col("is_survivor"))`.
  *
  * Stage composition mirrors the reference pipeline's separation of
  * ingest-validate-transform (`/root/reference/process_etl.py`,
  * `blobToCosmos.py:53-77`) scaled to corpus curation; every stage is
  * individually oracle-checked (q22/q23/q17/q19/q43), and the composed
  * audit is oracle-checked end-to-end (q51).
  */
object Curation {

  // Every stage boundary below is a Materialize.persist: the caches
  // keep the stages from re-deriving each other while the returned
  // plan executes, and the caller's Materialize.scope releases them.

  /** @param minQuality  quality gate on `TextAnalysis.qualityScore`
    * @param n           shingle size for near-dup candidate generation
    * @param jaccardThreshold near-dup pair threshold
    * @param maxDf       stop-shingle document-frequency cap (see
    *                    [[Dedup.ngramJaccardPairs]]; cap at web scale)
    */
  def curate(docs: DataFrame, idCol: String = "doc_id",
             textCol: String = "text", minQuality: Double = 0.51,
             n: Int = 3, jaccardThreshold: Double = 0.2,
             maxDf: Int = Int.MaxValue): DataFrame = {
    // Fanout: stage 1 is a heavy per-doc scoring projection (tokenize,
    // regex, distinct counts) materialized into the persist BEFORE any
    // exchange — a one-row-group scan serializes it on one core and
    // the cached table then stays 1-partition for every consumer
    // (guide §2.5; no-op at scale). PROJECT to the two columns the
    // pipeline reads BEFORE the round-robin exchange (guide §2.3
    // "project before the exchange"; the Profile.fdCandidates pattern)
    // — the r16 fan-out moved every extra doc column's bytes through
    // the shuffle for nothing, and the stage-1 persist then cached
    // them too.
    val scored = Materialize.persist(TextAnalysis.langId(
      TextAnalysis.qualityScore(
        Fanout.ensure(docs.select(col(idCol), col(textCol))), textCol),
      textCol)
      .withColumn("quality_ok", col("quality_score") >= minQuality))
    // `kept` feeds both the near-dup candidate action and the final
    // audit join. CHECKPOINTING it was measured slower (2.7s -> 3.3s
    // at sf0.1): materializing every column breaks scan pruning and
    // codegen fusion for the shingle branch. PERSISTING the stage
    // boundaries (in-memory, pruned lazily per consumer) has neither
    // problem — the curateFull measurement (7.8 -> 4.2s) transfers.
    val kept = Materialize.persist(Dedup.dropExactDups(
      scored.filter(col("quality_ok")), idCol, textCol))
    val pairs = Dedup.ngramJaccardPairs(
      kept, idCol, textCol, n, jaccardThreshold, maxDf)
    val resolved = Dedup.resolveSurvivors(kept, idCol, pairs)
      .select(col(idCol), col("survivor_id"), col("is_survivor"),
        lit(true).as("kept_exact"))
    scored
      .select(col(idCol), col("lang_pred"), col("quality_score"),
        col("quality_ok"))
      .join(resolved, Seq(idCol), "left")
      .withColumn("kept_exact", coalesce(col("kept_exact"), lit(false)))
      // docs dropped by the quality gate or exact dedup do not survive:
      // non-null false (survivor_id stays NULL — no surviving row)
      .withColumn("is_survivor", coalesce(col("is_survivor"), lit(false)))
  }

  /** Survivor ids only — the stage pipeline without the final audit
    * joins. The corpus-consuming path (q80's curate→tokenize→pack)
    * needs just the kept set; skipping the 4-way all-docs audit join
    * keeps the composition's tail at resolution cost.
    */
  def curateFullSurvivorIds(docs: DataFrame, idCol: String = "doc_id",
                            textCol: String = "text",
                            minQuality: Double = 0.51,
                            maxDupTokenRatio: Double = 0.6,
                            spanN: Int = 8, maxDupSpanRatio: Double = 0.8,
                            maxNllMicro: Long = 9000000L,
                            n: Int = 3, jaccardThreshold: Double = 0.2,
                            maxDf: Int = Int.MaxValue): DataFrame = {
    val (_, _, _, resolved) = curateFullStages(docs, idCol, textCol,
      minQuality, maxDupTokenRatio, spanN, maxDupSpanRatio, maxNllMicro,
      n, jaccardThreshold, maxDf)
    resolved.filter(col("is_survivor")).select(col(idCol))
  }

  /** The full modern curation composition — what a C4/Gopher/LLaMA-era
    * pipeline actually runs, stage-ordered so each gate shrinks the
    * input of everything costlier after it:
    *
    *   1. quality + language ID + Gopher repetition gates
    *      (per-doc scans; repetition adds its two keyed aggs)
    *   2. exact-substring span gate ([[TextAnalysis.dupSpans]] over the
    *      gate survivors — one hash exchange)
    *   3. exact dedup (one exchange on the text hash)
    *   4. bigram-LM perplexity gate: the LM TRAINS ON the surviving
    *      corpus itself and drops docs whose per-bigram log-likelihood
    *      falls under a FIXED threshold — an integer fixed-point
    *      compare (`ll_scaled >= -maxNllMicro × n_bigrams`), never a
    *      float quantile, so the decision is engine-exact
    *   5. n-gram Jaccard near-dup resolution on what remains
    *
    * Output: one audit row per input doc — per-stage booleans, the LM
    * evidence, survivor mapping. Downstream corpus =
    * `.filter(col("is_survivor"))`. Every stage is individually
    * oracle-checked (q22/q23/q53/q72/q17/q68/q19/q43); q73 pins this
    * COMPOSITION end-to-end.
    *
    * Composition effect worth knowing: a tight span gate SUBSUMES much
    * of the Jaccard stage — on the gate corpus, every heavy-overlap
    * doc dies at stage 2 and the near-dup resolution is a no-op. At
    * production thresholds (span gate at 0.9+, Jaccard at 0.8) the
    * stages separate again; the audit columns make the attribution
    * visible either way.
    */
  def curateFull(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text", minQuality: Double = 0.51,
                 maxDupTokenRatio: Double = 0.6,
                 spanN: Int = 8, maxDupSpanRatio: Double = 0.8,
                 maxNllMicro: Long = 9000000L,
                 n: Int = 3, jaccardThreshold: Double = 0.2,
                 maxDf: Int = Int.MaxValue): DataFrame = {
    val (scored, spans, lmScores, resolved) = curateFullStages(docs,
      idCol, textCol, minQuality, maxDupTokenRatio, spanN,
      maxDupSpanRatio, maxNllMicro, n, jaccardThreshold, maxDf)
    scored
      .select(col(idCol), col("lang_pred"), col("quality_score"),
        col("quality_ok"), col("rep_ok"))
      .join(spans.select(col(idCol), col("span_ok")), Seq(idCol), "left")
      .join(lmScores.select(col(idCol), col("n_bigrams"),
        col("ll_scaled"), col("lm_ok")), Seq(idCol), "left")
      .join(resolved, Seq(idCol), "left")
      .withColumn("span_ok", coalesce(col("span_ok"), lit(false)))
      .withColumn("lm_ok", coalesce(col("lm_ok"), lit(false)))
      .withColumn("kept_exact", coalesce(col("kept_exact"), lit(false)))
      .withColumn("is_survivor", coalesce(col("is_survivor"), lit(false)))
  }

  /** The shared 5-stage pipeline: (scored, spans, lmScores, resolved).
    */
  private def curateFullStages(docs: DataFrame, idCol: String,
                               textCol: String, minQuality: Double,
                               maxDupTokenRatio: Double,
                               spanN: Int, maxDupSpanRatio: Double,
                               maxNllMicro: Long,
                               n: Int, jaccardThreshold: Double,
                               maxDf: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // Stage boundaries PERSIST (narrow projections): unlike the
    // two-stage `curate` — where a checkpoint was measured slower than
    // recomputation — this composition re-enters each stage's lineage
    // ~8x (later stages, the audit joins, the LM's own actions), and
    // the re-derivation multiplied across five stages dominated the
    // runtime (measured 7.8s -> 4.2s at sf0.1, now ~the sum of the
    // individual stage queries). At 100 TB a curation
    // run writes these same boundaries as tables between stages; the
    // caches are the in-session equivalent. Like such a table, each
    // persisted stage is a leaf (Materialize.persist): the stages and
    // audit joins after it analyze one in-memory relation, not its
    // lineage, which they re-entered ~8x (q73's returned plan: 883
    // analyzed nodes before, 32 after).
    //
    // stage 1: per-doc gates. quality, langid AND the duplicate-token
    // ratio are all per-row arithmetic over the row's own text, so
    // they fuse into ONE codegen'd projection — the earlier
    // join-repetitionStats-back-on-doc_id shape paid a second scan
    // branch plus a join for columns the same scan could emit
    // (measured: q73 8.8 -> 7.6 s, q80 13.0 -> 11.3 s cold at sf0.1).
    // NO fan-out here (r17, reverting the r16 Fanout.ensure): the
    // driver's cold r16 run regressed q73 −23% / q80 −17% with the
    // round-robin exchange of text-bearing rows, and the r17 cold A/B
    // confirms it (3 chains each, bench methodology: q73 3.63/3.74/3.75
    // with fan-out — projected — vs 3.03/3.19/3.20 without; q80
    // 9.86/10.03/10.81 vs 9.29/9.45/10.65). Unlike the two-stage
    // `curate` (q51, where the fan-out is driver-confirmed 1.42×), this
    // composition re-enters the persisted stage-1 ~8× across ~20+
    // downstream jobs, and 32-partition caches multiply per-job task
    // machinery past what the parallel scoring pass saves. The
    // projection to (idCol, textCol) stays: it narrows the stage-1
    // persist to the columns the pipeline reads (guide §2.3).
    val scored = Materialize.persist(TextAnalysis.langId(
        TextAnalysis.qualityScore(
          docs.select(col(idCol), col(textCol)), textCol),
        textCol)
      .withColumn("quality_ok", col("quality_score") >= minQuality)
      .withColumn("dup_token_ratio",
        TextAnalysis.dupTokenRatio(col(textCol)))
      .withColumn("rep_ok", col("dup_token_ratio") <= maxDupTokenRatio))
    // stage 2: span gate over stage-1 survivors
    val g1 = scored.filter(col("quality_ok") && col("rep_ok"))
      .select(col(idCol), col(textCol))
    val spans = Materialize.persist(
      TextAnalysis.dupSpans(g1, idCol, textCol, spanN)
        .select(col(idCol), col("dup_ratio").as("span_ratio"))
        .withColumn("span_ok", col("span_ratio") <= maxDupSpanRatio))
    val g2 = g1.join(spans.filter(col("span_ok")).select(col(idCol)), Seq(idCol))
    // stage 3: exact dedup
    val kept = Materialize.persist(Dedup.dropExactDups(g2, idCol, textCol))
    // stage 4: self-trained LM perplexity gate (fixed-point compare)
    val lm = LanguageModel.trainBigram(kept, textCol)
    val lmScores = Materialize.persist(
      LanguageModel.scoreBigram(kept, lm, idCol, textCol)
        .withColumn("lm_ok",
          col("ll_scaled") >= lit(-maxNllMicro) * col("n_bigrams")))
    // g3 deliberately NOT persisted: caching it was measured SLOWER
    // (q73 7.6 -> 9.5 s cold) — materializing one more text-bearing
    // cache costs more than its two consumers' re-pay of the
    // kept ⋈ lm-gate join over already-cached inputs
    val g3 = kept.join(
      lmScores.filter(col("lm_ok")).select(col(idCol)), Seq(idCol))
    // stage 5: near-dup resolution
    val pairs = Dedup.ngramJaccardPairs(g3, idCol, textCol, n,
      jaccardThreshold, maxDf)
    val resolved = Dedup.resolveSurvivors(g3, idCol, pairs)
      .select(col(idCol), col("survivor_id"), col("is_survivor"),
        lit(true).as("kept_exact"))
    (scored, spans, lmScores, resolved)
  }
}
