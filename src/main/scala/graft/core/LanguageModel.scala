package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-based n-gram language modeling for corpus quality filtering,
  * plus DSIR importance resampling — the KenLM-perplexity /
  * importance-weight stages a training-data pipeline runs between
  * dedup and final selection (CCNet/Gopher filter on LM perplexity;
  * Xie et al. 2023, "Data Selection for Language Models via Importance
  * Resampling", selects raw docs whose hashed-n-gram distribution
  * looks like a target corpus).
  *
  * Design constraints, in order:
  *
  *  1. **Model-as-table.** A bigram LM over a 100 TB corpus does not
  *     fit on the driver or in a broadcast. Training emits count
  *     TABLES (bigram, context); scoring joins against them. Only the
  *     DSIR bucket table (a few thousand rows by construction) is
  *     broadcast.
  *  2. **Order-independent exactness.** Per-doc log-probabilities are
  *     sums of per-token doubles — order-sensitive, so NOT
  *     oracle-roundable (the q62 lesson). Every per-token/per-bucket
  *     term here is therefore a single `ln` of a ratio of exact
  *     integers, scaled to fixed point (`floor(1e6 * ln(...))`) and
  *     summed as BIGINT: integer addition commutes, so results are
  *     partitioning-invariant and hash-match an external engine.
  *  3. **Skew-aware joins.** Scoring joins are keyed by token strings;
  *     natural language is Zipfian, so the hot keys ("the", ...) skew.
  *     The aggregations are partial (map-side combine bounds the hot
  *     key's pre-shuffle volume) and the joins run under AQE skew-join
  *     splitting; at real scale the LM HEAD (top-K contexts) can
  *     additionally be broadcast, which this module leaves to the
  *     caller (the table split is a filter).
  */
object LanguageModel {

  /** A trained bigram LM: `bigrams` = (w1, w2, c) occurrence counts,
    * `contexts` = (w1, c_ctx) with c_ctx = Σ_w2 c(w1,w2), and the
    * training vocabulary size (distinct unigram tokens) for add-one
    * smoothing.
    */
  final case class BigramLm(bigrams: DataFrame, contexts: DataFrame,
                            vocabSize: Long)

  /** Adjacent token pairs of a text column as array<struct<w1,w2>>
    * (empty when the doc has fewer than 2 tokens).
    *
    * Built from two ALIGNED SLICES zipped elementwise — not
    * `transform(sequence(...), i => element_at(t, i))`: a lambda that
    * references the tokens array per index re-evaluates the inlined
    * `split` once per element (CollapseProject inlines single-use
    * projections into HOF lambdas), which is O(tokens²) per document
    * — measured 6.4s → 0.5s on the sf0.1 corpus for this expression
    * alone. Same failure class as the simhash/q53 lessons.
    */
  def bigramsOf(text: Column): Column = {
    val t = TextAnalysis.tokens(text)
    when(size(t) >= 2,
      zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
  }

  /** Train a bigram LM: one explode + two grouped counts (both with
    * map-side partial aggregation) and one distinct count for the
    * vocabulary. The corpus is scanned twice (bigrams, vocab) — at
    * scale train once and persist the tables.
    */
  def trainBigram(docs: DataFrame, textCol: String = "text"): BigramLm = {
    val pairs = docs.select(explode(bigramsOf(col(textCol))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    // the model is a TABLE consumed by (at least) two scoring joins:
    // persist so the training corpus is exploded/aggregated once, not
    // once per consumer. (At real scale the caller writes the LM to a
    // table between train and score; persist is the in-session
    // equivalent.)
    val bigrams = Materialize.persist(
      pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c")))
    val contexts = Materialize.persist(
      bigrams.groupBy("w1").agg(sum("c").as("c_ctx")))
    val vocab = docs
      .select(explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .agg(countDistinct(col("tok"))).head().getLong(0)
    BigramLm(bigrams, contexts, vocab)
  }

  /** Score documents under a trained LM with add-one smoothing:
    * P(w2|w1) = (c(w1,w2) + 1) / (c_ctx(w1) + V). Unseen contexts
    * degrade to 1/V.
    *
    * Output per doc: `n_bigrams`, `n_oov` (bigrams unseen in
    * training), and `ll_scaled` = Σ floor(1e6 · ln P) as BIGINT —
    * the fixed-point total log-likelihood. Cross-entropy/perplexity
    * are one arithmetic step for the consumer
    * (ppl = exp(−ll_scaled / 1e6 / n_bigrams)); they are not emitted
    * because exp would re-introduce float rounding at the boundary.
    * Docs with < 2 tokens score (0, 0, 0).
    */
  def scoreBigram(docs: DataFrame, lm: BigramLm, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val pairs = docs.select(col(idCol), explode(bigramsOf(col(textCol))).as("p"))
      .select(col(idCol), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val joined = pairs
      .join(lm.bigrams, Seq("w1", "w2"), "left")
      .join(lm.contexts, Seq("w1"), "left")
      .withColumn("c_hit", coalesce(col("c"), lit(0L)))
      .withColumn("c_ctx_hit", coalesce(col("c_ctx"), lit(0L)))
    val term = floor(lit(1e6) *
      log((col("c_hit") + lit(1)).cast("double") /
        (col("c_ctx_hit") + lit(lm.vocabSize)).cast("double")))
      .cast("long")
    val scored = joined.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_bigrams"),
      sum(when(col("c_hit") === 0L, 1L).otherwise(0L)).as("n_oov"),
      sum(term).as("ll_scaled"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        coalesce(col("ll_scaled"), lit(0L)).as("ll_scaled"))
  }

  /** Moore–Lewis intelligent selection (Moore & Lewis, ACL 2010) —
    * THE classic cross-entropy data-selection method beside DSIR:
    * rank general-corpus documents by the per-bigram log-likelihood
    * difference between an IN-DOMAIN LM and a GENERAL LM,
    *
    *   score(d) = (ll_in(d) − ll_gen(d)) / n_bigrams(d)
    *
    * (equivalently H_gen − H_in: positive = the in-domain model
    * prefers the doc — select the top of the ranking, e.g. with
    * [[graft.core.Sampling]]'s budget cuts). Both scores are
    * [[scoreBigram]]'s fixed-point Σ floor(1e6·ln P) totals — exact
    * BIGINT, order-free — and the per-bigram normalization is a
    * plain integral DIV: for SIGNED quantities Spark's DIV and
    * DuckDB's // agree (both truncate toward zero — measured
    * −7//2 = −3 in DuckDB 1.0), where the (x − pmod(x, b))/b floor
    * form the non-negative operators use would diverge by one on
    * negative scores. Convention documented: scores truncate toward
    * zero.
    *
    * Plan: two scoring passes (one per LM — each a broadcast-or-
    * shuffled model join + per-doc sum) and one id-keyed join;
    * nothing beyond [[scoreBigram]]'s own shapes. Docs with < 2
    * tokens score (0, 0, 0, 0).
    *
    * Output per doc: (idCol, n_bigrams, ll_in_scaled, ll_gen_scaled,
    * ml_score_scaled).
    */
  def mooreLewis(docs: DataFrame, inDomain: BigramLm, general: BigramLm,
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val a = scoreBigram(docs, inDomain, idCol, textCol)
      .select(col(idCol), col("n_bigrams"),
        col("ll_scaled").as("ll_in_scaled"))
    val b = scoreBigram(docs, general, idCol, textCol)
      .select(col(idCol), col("ll_scaled").as("ll_gen_scaled"))
    a.join(b, Seq(idCol))
      .select(col(idCol), col("n_bigrams"), col("ll_in_scaled"),
        col("ll_gen_scaled"),
        expr("""CASE WHEN n_bigrams > 0 THEN
            (ll_in_scaled - ll_gen_scaled) DIV n_bigrams
          ELSE 0L END""").as("ml_score_scaled"))
  }

  // ---- DSIR (hashed n-gram importance resampling) --------------------

  /** A document's DSIR feature grams: unigrams plus space-joined
    * bigrams, each hashed portably ([[TextAnalysis.rollingHash]]) into
    * `buckets` buckets. Emitted exploded as (id, bucket) — one row per
    * gram OCCURRENCE (bag semantics, per the paper).
    */
  def hashedGrams(docs: DataFrame, idCol: String, textCol: String,
                  buckets: Int): DataFrame = {
    // bigram strings come from the native ShingleArray generator
    // (position-ordered, one pass over the text) — the HOF
    // formulation re-evaluated the token split per element (see
    // [[bigramsOf]])
    val grams = concat(
      TextAnalysis.tokens(col(textCol)),
      TextAnalysis.ngramsAll(col(textCol), 2))
    docs.select(col(idCol), explode(grams).as("gram"))
      .select(col(idCol),
        pmod(TextAnalysis.rollingHash(col("gram")), lit(buckets.toLong))
          .as("bucket"))
  }

  /** Per-bucket fixed-point importance log-ratio between a target
    * corpus and the raw corpus:
    *
    *   lr[b] = floor(1e6 · ln( ((ct[b]+1) · (Tr+B)) / ((cr[b]+1) · (Tt+B)) ))
    *
    * ct/cr = bucket gram counts, Tt/Tr = total gram counts, B =
    * bucket count (add-one smoothing on both distributions). One ln
    * per BUCKET on exact integer products (< 2^53, so the double
    * inputs are exact and both engines see identical ratios).
    * The result is B rows — broadcastable by construction.
    */
  def dsirBucketRatios(raw: DataFrame, target: DataFrame, idCol: String,
                       textCol: String, buckets: Int): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    // one aggregation scan per corpus, collected as B rows; totals and
    // per-bucket log-ratios are driver math on those B longs (a naive
    // all-DataFrame formulation paid FIVE corpus scans here: two total
    // head() actions plus both count aggs recomputed inside the final
    // plan — measured 14.5s -> 3.4s on the q69 gate at sf0.1).
    // math.log is the same function Spark's log expression evaluates,
    // so the fixed-point values are bit-identical to the in-plan form.
    def counts(df: DataFrame): Map[Long, Long] =
      hashedGrams(df, idCol, textCol, buckets)
        .groupBy("bucket").agg(count(lit(1)).as("c"))
        .as[(Long, Long)].collect().toMap
    val ct = counts(target)
    val cr = counts(raw)
    val tt = ct.valuesIterator.sum
    val tr = cr.valuesIterator.sum
    (0L until buckets.toLong).map { b =>
      val num = (ct.getOrElse(b, 0L) + 1L) * (tr + buckets)
      val den = (cr.getOrElse(b, 0L) + 1L) * (tt + buckets)
      (b, math.floor(1e6 * math.log(num.toDouble / den.toDouble)).toLong)
    }.toDF("bucket", "lr_scaled")
  }

  /** Per-raw-doc DSIR importance weight: Σ lr[bucket(gram)] over the
    * doc's gram occurrences, as exact BIGINT fixed point. One exploded
    * scan of the raw corpus, one BROADCAST join against the B-row
    * bucket table, one keyed aggregation.
    */
  def dsirWeights(raw: DataFrame, target: DataFrame,
                  idCol: String = "doc_id", textCol: String = "text",
                  buckets: Int = 4096): DataFrame = {
    val ratios = dsirBucketRatios(raw, target, idCol, textCol, buckets)
    val grams = hashedGrams(raw, idCol, textCol, buckets)
    val sums = grams.join(broadcast(ratios), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(sum("lr_scaled").as("weight_scaled"), count(lit(1)).as("n_grams"))
    raw.select(col(idCol)).join(sums, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("weight_scaled"), lit(0L)).as("weight_scaled"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"))
  }

  /** Gumbel-top-k resample of `k` raw docs with probability ∝
    * exp(weight/τ): selecting argmax-k of (w/τ + g) is order-identical
    * to argmax-k of (w + τ·g), so τ multiplies the GUMBEL term and the
    * selection key stays a BIGINT: weight_scaled + floor(τ·1e6·g),
    * with g = −ln(−ln(u)) and u derived from the portable hash of
    * (seed, id) — deterministic, partitioning-invariant, reproducible
    * by an external engine.
    *
    * `tauMicro` = temperature × 1e6 (1000000 = τ 1.0; 0 = argmax-k by
    * weight alone). Ties break on id. Output: rank (1..k), id,
    * weight_scaled, score_scaled — a TakeOrderedAndProject, no global
    * sort.
    */
  def dsirResample(raw: DataFrame, target: DataFrame, k: Int,
                   idCol: String = "doc_id", textCol: String = "text",
                   buckets: Int = 4096, tauMicro: Long = 1000000L,
                   seed: String = "dsir"): DataFrame = {
    val w = dsirWeights(raw, target, idCol, textCol, buckets)
    // u in (0,1): portable hash of "seed:id" over the hash's modulus
    val p = 1000000007L
    val u = (TextAnalysis.rollingHash(
      concat(lit(seed + ":"), col(idCol).cast("string"))) + lit(1L))
      .cast("double") / lit((p + 1).toDouble)
    val gumbel = -log(-log(u))
    val score = col("weight_scaled") +
      floor(lit(tauMicro.toDouble) * gumbel).cast("long")
    w.withColumn("score_scaled", score)
      .orderBy(desc("score_scaled"), asc(idCol))
      .limit(k)
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(desc("score_scaled"), asc(idCol))))
      .select(col("rank").cast("long").as("rank"), col(idCol),
        col("weight_scaled"), col("score_scaled"))
  }
}
