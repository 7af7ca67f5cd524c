package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import Shared._

/** Queries, each with its DuckDB oracle, for text analysis and quality
  * curation over `documents`: token statistics, language ID, quality scores
  * and gates, n-gram LMs, PII scrubbing and the five-stage curation
  * pipeline.
  */
private[graft] object TextQualityQueries extends QueryDomain {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- text analysis pack ------------------------------------------

    "q22_token_stats" -> ((s, dir) => {
      TextAnalysis.qualityScore(
        TextAnalysis.tokenStats(Tables.documents(s, dir), "text"), "text")
        .select(col("doc_id"),
          col("n_tokens").cast("long").as("n_tokens"),
          col("n_tokens_bpeish").cast("long").as("n_tokens_bpeish"),
          col("n_chars").cast("long").as("n_chars"),
          round(col("mean_token_len"), 4).as("mean_token_len"),
          round(col("stopword_ratio"), 6).as("stopword_ratio"),
          round(col("punct_ratio"), 6).as("punct_ratio"),
          round(col("alpha_ratio"), 6).as("alpha_ratio"))
    }),

    "q23_langid" -> ((s, dir) => {
      TextAnalysis.langId(Tables.documents(s, dir), "text")
        .select(col("doc_id"), col("lang_pred"),
          col("score_en").cast("long").as("score_en"),
          col("score_es").cast("long").as("score_es"),
          col("score_de").cast("long").as("score_de"),
          col("score_fr").cast("long").as("score_fr"))
    }),

    // TF-IDF: top-3 terms per doc. Ranked on INTEGERS (tf desc, term
    // asc) so cross-engine float rounding can't flip ranks; the float
    // score is display-only, rounded.
    "q41_tfidf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val scored = TextAnalysis.tfidf(Tables.documents(s, dir), "doc_id", "text")
      val w = Window.partitionBy("doc_id").orderBy(desc("tf"), asc("term"))
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk").cast("long").as("rnk"), col("term"),
          col("tf"), round(col("score"), 6).as("score"))
    }),

    // multimodal plumbing, oracle-checkable slice: treat text bytes as
    // an opaque payload and extract chunked-fingerprint features —
    // the same shape Multimodal.extractFeatures emits for binary
    // payloads (its codec stub is exercised in MultimodalSpec)
    "q37_chunk_features" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val chunkLen = greatest(floor(length(col("text")) / 4).cast("int"), lit(1))
      val feats = transform(sequence(lit(0), lit(3)),
        i => TextAnalysis.rollingHash(col("text").substr(i * chunkLen + 1, chunkLen)))
      d.select(col("doc_id"), posexplode(feats).as(Seq("dim", "feature")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("feature"))
    }),

    // composed corpus-curation pipeline: quality gate -> exact dedup ->
    // near-dup resolution, emitted as a per-doc audit. Every stage is
    // separately oracle-checked (q22/q23/q17/q19/q43); this checks the
    // COMPOSITION end-to-end.
    "q51_curation" -> ((s, dir) => {
      graft.core.Curation.curate(Tables.documents(s, dir))
        .select(col("doc_id"), col("lang_pred"), col("quality_score"),
          col("quality_ok"), col("kept_exact"),
          col("survivor_id"), col("is_survivor"))
    }),

    // Gopher-style repetition stats: duplicate-token fraction plus the
    // token share covered by the most frequent bigram
    "q53_repetition" -> ((s, dir) => {
      TextAnalysis.repetitionStats(Tables.documents(s, dir), "doc_id", "text", n = 2)
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("dup_token_ratio"), col("top_ngram_count"), col("top_ngram_ratio"))
    }),

    // PII scrubbing: redact + count emails/phones/id runs. Test PII is
    // derived deterministically from doc_id IN the query (both engines
    // build the identical augmented text), so the oracle exercises real
    // redactions, not just the no-op path.
    "q54_pii_scrub" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val aug = concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact u"), col("doc_id").cast("string"),
            lit("@mail.example.com"))).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          concat(lit(" call "),
            (col("doc_id") % 700 + 200).cast("string"), lit("-"),
            (col("doc_id") % 800 + 100).cast("string"), lit("-"),
            (col("doc_id") % 9000 + 1000).cast("string"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" acct "),
            (col("doc_id") + 100000000L).cast("string"))).otherwise(lit("")))
      TextAnalysis.scrubPii(d.withColumn("aug_text", aug), "aug_text")
        .select(col("doc_id"), col("n_emails").cast("long").as("n_emails"),
          col("n_phones").cast("long").as("n_phones"),
          col("n_ids").cast("long").as("n_ids"), col("scrubbed"))
    }),

    // markup stripping over deterministically-derived HTML (both
    // engines wrap the same text in the same tags, so the oracle
    // exercises real scrubbing: script elision, tag drop, entity
    // decode, whitespace collapse)
    "q59_strip_markup" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val aug = concat(
        lit("<html><body data-id=\""), col("doc_id").cast("string"),
        lit("\"><h1>T&amp;C</h1><script type=\"text/js\">var x = 1;</script><p>"),
        col("text"),
        lit("</p>"),
        when(col("doc_id") % 2 === 0,
          lit("<style>p { color: red }</style>&lt;EOF&gt;")).otherwise(lit("")),
        lit("</body></html>"))
      TextAnalysis.stripMarkup(d.withColumn("html", aug), "html")
        .select(col("doc_id"), col("clean_text"))
    }),

    // bigram-LM perplexity filter: train on the doc_id%7 slice,
    // score the whole corpus. All outputs are exact integers —
    // ll_scaled is a BIGINT sum of per-token floor(1e6·ln P) terms, so
    // the order-sensitive float-sum trap can't bite (integer addition
    // commutes) and the oracle hash-matches.
    "q68_lm_score" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val lm = LanguageModel.trainBigram(d.filter(col("doc_id") % 7 === 0))
      LanguageModel.scoreBigram(d, lm)
    }),

    // DSIR importance resampling: target = the doc_id%10 slice, raw =
    // the rest; hashed unigram+bigram bucket log-ratios (fixed point),
    // Gumbel-top-k selection keyed on BIGINTs — the entire sampling
    // decision is deterministic and engine-portable.
    "q69_dsir" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val target = d.filter(col("doc_id") % 10 === 0)
      val raw = d.filter(col("doc_id") % 10 =!= 0)
      LanguageModel.dsirResample(raw, target, k = 100, buckets = 512)
    }),

    // quality-classifier inference in its production shape: quantized
    // fixed-point weights over hashed gram features, exact BIGINT
    // scores. Weights derive from the portable hash so the oracle
    // reproduces the full scoring decision; TRAINING (distributed
    // gradient descent) is covered by QualityClassifierSpec.
    "q71_quality_score" -> ((s, dir) => {
      graft.ml.QualityClassifier.scoreFixedPoint(Tables.documents(s, dir),
        graft.ml.QualityClassifier.hashWeights(s, 512), 512)
    }),

    // the full modern curation composition: quality + repetition +
    // span gates -> exact dedup -> self-trained LM perplexity gate
    // (fixed-point compare, threshold between the corpus p95/p99 so
    // the gate demonstrably FIRES) -> near-dup resolution. Stages are
    // individually oracled (q22/23/53/72/17/68/19/43); this pins the
    // composition.
    "q73_curation_full" -> ((s, dir) => {
      graft.core.Curation.curateFull(Tables.documents(s, dir),
          maxNllMicro = 3450000L)
        .select(col("doc_id"), col("lang_pred"), col("quality_score"),
          col("quality_ok"), col("rep_ok"), col("span_ok"),
          col("n_bigrams"), col("ll_scaled"), col("lm_ok"),
          col("kept_exact"), col("survivor_id"), col("is_survivor"))
    }),

    // corpus-wide top-k n-grams: boilerplate discovery / stop-gram
    // tuning. Map-side combine collapses the Zipfian head before the
    // exchange; only (gram, count) shuffles, only k rows reach the
    // driver.
    "q76_top_ngrams" -> ((s, dir) => {
      TextAnalysis.topNgrams(Tables.documents(s, dir), "text", n = 3, k = 100)
    }),

    // Per-source quality-QUANTILE gate (FineWeb/CCNet: "keep each
    // source's top 25% by quality") — exact rank variant: the rounded
    // quality score is bit-identical across engines (exact integer
    // ratios through one mul/add chain), so ordering, ranking, and the
    // ceil(n/4) cutoff all hash-match. The percentile_approx scale
    // variant (no per-source sort, threshold table broadcast back) is
    // spec-pinned against this exact gate in CorpusOpsSpec.
    "q91_quality_quantile_gate" -> ((s, dir) => {
      val scored = TextAnalysis.qualityScore(Tables.documents(s, dir), "text")
      Sampling.topFractionByGroup(scored, "source", "quality_score", "doc_id",
          fraction = 0.25)
        .filter(col("kept"))
        .select(col("doc_id"), col("source"), col("quality_score"),
          col("grp_rank").cast("long").as("grp_rank"))
    }),

    // rank-ensemble quality blend (the FineWeb recipe): three exact
    // integer signals (token count, stopword share, alpha share),
    // each contributing its GLOBAL corpus rank; the blend is the rank
    // sum — scale-free ensembling where raw-score blending would let
    // one hot signal dominate. Ranks come from the two-phase prefix
    // rank, never a global window
    "q123_rank_ensemble" -> ((s, dir) => {
      val t = TextAnalysis.tokens(col("text"))
      val stopArr = array(TextAnalysis.StopWords.map(lit): _*)
      val sig = Tables.documents(s, dir)
        .withColumn("n_toks", size(t).cast("long"))
        .withColumn("n_stop",
          size(filter(t, tok => array_contains(stopArr, tok))).cast("long"))
        .withColumn("n_alpha",
          length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("long"))
        .withColumn("n_c", length(col("text")).cast("long"))
        .select(col("doc_id"),
          col("n_toks").as("s_len"),
          expr("n_stop * 1000000L DIV n_toks").as("s_stop_micro"),
          expr("n_alpha * 1000000L DIV greatest(n_c, 1L)").as("s_alpha_micro"))
      graft.core.Sampling.rankEnsemble(sig, "doc_id",
        Seq("s_len", "s_stop_micro", "s_alpha_micro"))
    }),

    // PMI collocation mining (phrase detection, the word2vec-phrases
    // preprocessing op): top-20 adjacent-token pairs by the EXACT
    // integer association score c_xy*N*1e6 DIV (c_x*c_y) — PMI's
    // monotone argument, so the ranking is log-free and BIGINT-exact;
    // min support 5 prunes noise before the rank. Bigrams built by a
    // per-doc higher-order transform (no self-join); three counts
    // shuffles, one bounded rank
    "q144_pmi_collocations" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.documents(s, dir)
        .select(graft.core.TextAnalysis.tokens(col("text")).as("a"))
      val uni = toks.select(explode(col("a")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val tot = uni.agg(sum("c").as("n_total"))
      val bi = toks.filter(size(col("a")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(a) - 2), i -> struct(a[i] AS w1, a[i+1] AS w2))"))
          .as("b"))
        .select(col("b.w1"), col("b.w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
        .filter(col("c_xy") >= 5)
      val scored = bi
        .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "c_x"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "c_y"), "w2")
        .crossJoin(broadcast(tot))
        .withColumn("score_micro",
          expr("c_xy * n_total * 1000000 DIV (c_x * c_y)"))
      // top-k FIRST (TakeOrderedAndProject), THEN rank the bounded 20:
      // the support-≥5 bigram table grows with the vocabulary, so the
      // previous unpartitioned rank window was a single-partition sort
      // of a vocab²-bounded table (the q96 shape; hash unchanged)
      scored.orderBy(desc("score_micro"), asc("w1"), asc("w2")).limit(20)
        .withColumn("rank", row_number().over(
          Window.orderBy(desc("score_micro"), asc("w1"), asc("w2"))))
        .select(col("rank").cast("long").as("rank"), col("w1"), col("w2"),
          col("c_xy"), col("score_micro"))
    }),

    // greedy bigram-LM decode (model-as-table generation, the LM
    // sanity-check op): next(w) = argmax successor by (count DESC,
    // token ASC); every distinct token walks 10 greedy steps through
    // ten broadcast joins of the 31-row jump table — dead ends stay
    // put (path stops growing), cycles just repeat
    "q149_greedy_decode" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.documents(s, dir)
        .select(graft.core.TextAnalysis.tokens(col("text")).as("a"))
      val bi = toks.filter(size(col("a")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(a) - 2), i -> struct(a[i] AS w1, a[i+1] AS w2))"))
          .as("b"))
        .select(col("b.w1"), col("b.w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
      val wN = Window.partitionBy("w1").orderBy(desc("c_xy"), asc("w2"))
      val nextTok = bi.withColumn("r", row_number().over(wN))
        .filter(col("r") === 1)
        .select(col("w1").as("cur"), col("w2").as("nw"))
      val starts = toks.select(explode(col("a")).as("w")).distinct()
      var walk = starts.select(col("w").as("start_token"),
        col("w").as("cur"), col("w").as("gen_path"))
      for (_ <- 1 to 10) {
        walk = walk.join(broadcast(nextTok), Seq("cur"), "left")
          .withColumn("gen_path", when(col("nw").isNotNull,
            concat(col("gen_path"), lit(">"), col("nw")))
            .otherwise(col("gen_path")))
          .withColumn("cur", coalesce(col("nw"), col("cur")))
          .drop("nw")
      }
      walk.select(col("start_token"), col("gen_path"))
    }),

    // per-source corpus card (the dataset-datasheet row every corpus
    // release ships): docs, tokens, exact-dup count (keep-first over
    // the text hash), language count and majority language — one
    // text-keyed window + two grouped aggregates
    "q150_corpus_card" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val wDup = Window.partitionBy(col("text")).orderBy(col("doc_id"))
      val flagged = docs
        .withColumn("n_toks",
          size(graft.core.TextAnalysis.tokens(col("text"))).cast("long"))
        .withColumn("dup", row_number().over(wDup) > 1)
      val stats = flagged.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("n_toks").as("n_tokens"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_exact_dup"),
        countDistinct(col("lang")).as("n_langs"))
      val wTop = Window.partitionBy("source")
        .orderBy(desc("c"), asc("lang"))
      val topLang = docs.groupBy("source", "lang")
        .agg(count(lit(1)).as("c"))
        .withColumn("r", row_number().over(wTop)).filter(col("r") === 1)
        .select(col("source"), col("lang").as("top_lang"))
      stats.join(topLang, "source")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("n_exact_dup"), col("n_langs"), col("top_lang"))
    }),

    // preference-pair construction (reward-model / DPO data prep):
    // per source the i-th best doc by quality paired with the i-th
    // worst, top quarter vs bottom quarter, score margin carried
    "q155_preference_pairs" -> ((s, dir) => {
      val scored = TextAnalysis.qualityScore(Tables.documents(s, dir), "text")
        .withColumn("s_micro",
          expr("CAST(round(quality_score * 1000000) AS BIGINT)"))
      Sampling.preferencePairs(scored, "source", "s_micro", "doc_id", 4)
        .select(col("source"), col("pair_rank").cast("long").as("pair_rank"),
          col("chosen_id"), col("rejected_id"), col("chosen_s"),
          col("rejected_s"), col("margin_micro"))
    }),

    // curriculum phase assignment: global quality order (cleanest
    // first) split into 4 contiguous phases by the exact integer
    // identity (rank-1)*k DIV n — the two-phase distributed rank,
    // never a single-partition global window
    "q156_curriculum_phases" -> ((s, dir) => {
      val scored = TextAnalysis.qualityScore(Tables.documents(s, dir), "text")
        .withColumn("s_micro",
          expr("CAST(round(quality_score * 1000000) AS BIGINT)"))
        .select("doc_id", "s_micro")
      Sampling.curriculumPhases(scored, "doc_id",
          Seq(col("s_micro").desc, col("doc_id").asc), 4)
        .select(col("doc_id"), col("s_micro"), col("rank"), col("phase"))
    }),

    // TextRank keywords: integer-exact PageRank (5 power iterations,
    // damping 85/100, every division a positive floor) over the
    // symmetrized adjacent-token graph — graph centrality as a
    // sequence of bounded equi-join + grouped-sum steps
    "q157_textrank" -> ((s, dir) =>
      GraphOps.textrankKeywords(Tables.documents(s, dir), "text", 5, 20)),

    // Unicode NFC normalization (native codegen expression over the
    // JDK normalizer): the corpus is re-derived in DECOMPOSED form
    // (every 'e' followed by combining acute U+0301), normalized, and
    // pinned against the directly-precomposed é text — composition
    // must shrink each e to one codepoint and land exactly on the
    // precomposed bytes, per document
    // (NB Spark's chr() is mod-256 — chr(769) is NOT U+0301 there, so
    // the combining mark is embedded as a literal on this side)
    "q162_nfc_normalize" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          expr("replace(text, 'e', concat('e', '́'))").as("decomposed"),
          expr("replace(text, 'e', 'é')").as("precomposed"))
        .withColumn("nfc", TextAnalysis.nfcNormalize(col("decomposed")))
        .select(col("doc_id"),
          length(col("decomposed")).cast("long").as("n_decomposed"),
          length(col("nfc")).cast("long").as("n_nfc"),
          (col("nfc") === col("precomposed")).as("nfc_matches_precomposed"))),

    // Gopher-style quality-rule battery (Rae et al. '21 §A1.1 shape):
    // per doc, each rule an integer-exact boolean — length bounds,
    // mean-word-length bounds by CROSS-MULTIPLICATION (3n <= chars <=
    // 10n: no float division anywhere), stopword floor, unique-word
    // floor, short-word ceiling — and the conjunction gate
    "q177_gopher_gate" -> ((s, dir) => {
      val t = TextAnalysis.tokens(col("text"))
      Tables.documents(s, dir)
        .withColumn("n_words", size(t).cast("long"))
        .withColumn("n_wchars",
          length(regexp_replace(col("text"), "\\s+", "")).cast("long"))
        .withColumn("n_stop", size(filter(t, w =>
          array_contains(array(TextAnalysis.StopWords.map(lit): _*), w)))
          .cast("long"))
        .withColumn("n_unique", size(array_distinct(t)).cast("long"))
        .withColumn("n_short",
          size(filter(t, w => length(w) === 1)).cast("long"))
        .withColumn("r_len",
          col("n_words") >= 30 && col("n_words") <= 100000)
        .withColumn("r_mwl",
          col("n_wchars") >= col("n_words") * 3
            && col("n_wchars") <= col("n_words") * 10)
        .withColumn("r_stop", col("n_stop") >= 2)
        .withColumn("r_uniq",
          expr("n_unique * 1000000 DIV n_words") >= 300000L)
        .withColumn("r_short", col("n_short") * 10 <= col("n_words"))
        .select(col("doc_id"), col("n_words"), col("n_wchars"),
          col("n_stop"), col("n_unique"), col("n_short"),
          col("r_len"), col("r_mwl"), col("r_stop"), col("r_uniq"),
          col("r_short"),
          (col("r_len") && col("r_mwl") && col("r_stop") && col("r_uniq")
            && col("r_short")).as("passes"))
    }),

    // per-source unigram entropy — the lexical-diversity card number:
    // H = Σ −p·ln p over each source's (bounded) vocabulary, summed
    // as an ORDERED fold over the token-sorted vocab so the ln/IEEE
    // chain replays exactly
    "q178_token_entropy" -> ((s, dir) => {
      val uni = Tables.documents(s, dir)
        .select(col("source"), explode(TextAnalysis.tokens(col("text")))
          .as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      uni.groupBy("source")
        .agg(count(lit(1)).as("n_types"), sum("c").as("n_tokens"),
          expr("transform(sort_array(collect_list(struct(w, c))), " +
            "e -> e.c)").as("cs"))
        .select(col("source"), col("n_types"), col("n_tokens"),
          round(expr(
            """aggregate(cs, 0D, (a, c) ->
              |  a - (CAST(c AS DOUBLE) / CAST(n_tokens AS DOUBLE))
              |      * ln(CAST(c AS DOUBLE) / CAST(n_tokens AS DOUBLE)))"""
              .stripMargin), 6).as("entropy"))
    }),

    // per-source KL divergence from the corpus unigram distribution —
    // the "how far is this source's language from the mix" number
    // (DSIR's objective, reported instead of applied): add-one
    // smoothing over the CORPUS vocab so source-missing types
    // contribute, token-sorted ordered fold for the ln chain
    "q179_source_kl" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("source"), explode(TextAnalysis.tokens(col("text")))
          .as("w"))
      val corpus = toks.groupBy("w").agg(count(lit(1)).as("cc"))
      val bySrc = toks.groupBy("source", "w").agg(count(lit(1)).as("sc"))
      val grid = corpus.crossJoin(
          toks.select("source").distinct())
        .join(bySrc, Seq("source", "w"), "left")
        .withColumn("sc", coalesce(col("sc"), lit(0L)))
      val tot = grid.groupBy("source")
        .agg(sum("sc").as("n_src"), sum("cc").as("n_corpus"),
          count(lit(1)).as("v"),
          expr("transform(sort_array(collect_list(struct(w, sc, cc))), " +
            "e -> struct(e.sc AS sc, e.cc AS cc))").as("cs"))
      tot.select(col("source"), col("n_src"), col("v"),
        round(expr(
          """aggregate(cs, 0D, (a, e) ->
            |  a + (CAST(e.sc + 1 AS DOUBLE) / CAST(n_src + v AS DOUBLE))
            |      * ln((CAST(e.sc + 1 AS DOUBLE) / CAST(n_src + v AS DOUBLE))
            |          / (CAST(e.cc + 1 AS DOUBLE) / CAST(n_corpus + v AS DOUBLE))))"""
            .stripMargin), 6).as("kl"))
    }),

    // per-(source, rule) quality pass-rate matrix — the q177 Gopher
    // battery rolled up the way a dataset card reports it: which rule
    // gates which source. One codegen'd pass + a stack unpivot; the
    // matrix is sources × 5 rules = model-size output
    "q192_rule_source_matrix" -> ((s, dir) => {
      val t = TextAnalysis.tokens(col("text"))
      Tables.documents(s, dir)
        .withColumn("n_words", size(t).cast("long"))
        .withColumn("n_wchars",
          length(regexp_replace(col("text"), "\\s+", "")).cast("long"))
        .withColumn("n_stop", size(filter(t, w =>
          array_contains(array(TextAnalysis.StopWords.map(lit): _*), w)))
          .cast("long"))
        .withColumn("n_unique", size(array_distinct(t)).cast("long"))
        .withColumn("n_short",
          size(filter(t, w => length(w) === 1)).cast("long"))
        .withColumn("r_len",
          col("n_words") >= 30 && col("n_words") <= 100000)
        .withColumn("r_mwl",
          col("n_wchars") >= col("n_words") * 3
            && col("n_wchars") <= col("n_words") * 10)
        .withColumn("r_stop", col("n_stop") >= 2)
        .withColumn("r_uniq",
          expr("n_unique * 1000000 DIV n_words") >= 300000L)
        .withColumn("r_short", col("n_short") * 10 <= col("n_words"))
        .selectExpr("source",
          """stack(5, 'r_len', r_len, 'r_mwl', r_mwl, 'r_stop', r_stop,
            |'r_uniq', r_uniq, 'r_short', r_short) AS (rule, pass)"""
            .stripMargin)
        .groupBy(col("source"), col("rule"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"))
        .withColumn("pass_micro", expr("n_pass * 1000000 DIV n_docs"))
    }),

    // Bradley-Terry strengths from pairwise battles (the RLHF /
    // chatbot-arena ranking model): rank-matched cross-source doc
    // duels (rank r of source A vs rank r of source B — LINEAR in
    // docs, unlike all-pairs), winner by quality score; 5 MM
    // iterations (Hunter) s_i <- W_i / sum_j n_ij/(s_i+s_j) in pico-
    // per-micro BIGINT with floor DIV — unnormalized in-loop (drift
    // bounded by 2^5, every intermediate < 2^63), normalized to
    // sum = items x 1e6 only at output; the battle matrix is
    // model-size (|sources|^2), so the fold is one driver-free row
    "q212_bradley_terry" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val scored = TextAnalysis.qualityScore(
          Tables.documents(s, dir), "text")
        .withColumn("sm",
          expr("CAST(round(quality_score * 1000000) AS BIGINT)"))
        .withColumn("r", row_number().over(Window.partitionBy("source")
          .orderBy(col("sm").desc, col("doc_id").asc)))
        .select(col("source"), col("r"), col("sm"), col("doc_id"))
      val battles = scored.as("a").join(scored.as("b"),
          col("a.r") === col("b.r") && col("a.source") < col("b.source"))
        .select(col("a.source").as("sa"), col("b.source").as("sb"),
          (col("a.sm") > col("b.sm") ||
            (col("a.sm") === col("b.sm") &&
              col("a.doc_id") < col("b.doc_id"))).cast("long").as("wa"))
      val matrix = battles.groupBy("sa", "sb")
        .agg(count(lit(1)).as("n"), sum("wa").as("w"))
      val edges = matrix.select(col("sa").as("i"), col("sb").as("j"),
          col("n"), col("w"))
        .unionByName(matrix.select(col("sb").as("i"), col("sa").as("j"),
          col("n"), (col("n") - col("w")).as("w")))
      val perItem = edges.groupBy(col("i").as("source"))
        .agg(sum("w").as("n_wins"), sum("n").as("n_battles"))
      val folded = edges
        .agg(collect_list(struct(col("i"), col("j"), col("n"), col("w")))
          .as("edges"),
          sort_array(collect_set(col("i"))).as("items"))
        .select(col("items"), expr(
          """aggregate(sequence(1, 5),
            |  transform(items, x -> 1000000L),
            |  (s, k) -> transform(items, x ->
            |    aggregate(filter(edges, e -> e.i = x), 0L,
            |      (a, e) -> a + e.w) * 1000000000000L
            |    DIV greatest(
            |      aggregate(filter(edges, e -> e.i = x), 0L, (a, e) ->
            |        a + e.n * 1000000000000L DIV greatest(
            |          element_at(s, CAST(array_position(items, e.i) AS INT))
            |          + element_at(s, CAST(array_position(items, e.j) AS INT)),
            |          1L)), 1L)))""".stripMargin).as("sv"))
        .select(explode(arrays_zip(col("items"), col("sv"))).as("z"),
          expr("aggregate(sv, 0L, (a, b) -> a + b)").as("stot"),
          size(col("items")).as("ni"))
        .select(col("z.items").as("source"),
          expr("z.sv * (ni * 1000000L) DIV greatest(stot, 1L)")
            .as("bt_micro"))
      folded.join(perItem, "source")
        .select(col("source"), col("n_wins"), col("n_battles"),
          col("bt_micro"))
    }),

    // distinct-n corpus diversity per source — the CROSS-document
    // repetition audit (a source can pass every per-doc gate and
    // still be one template repeated): share of word-trigram
    // occurrences that are distinct, one explode + grouped counts
    "q323_distinct_n" -> ((s, dir) =>
      graft.core.TextAnalysis.distinctN(Tables.documents(s, dir),
        col("source"), col("text"), n = 3)),

    // Moore-Lewis cross-entropy selection (ACL 2010): rank docs by
    // the per-bigram log-likelihood difference between an in-domain
    // LM (doc_id % 7 == 0 slice) and a general LM (% 7 == 3 slice);
    // floor-division normalization so negative scores divide
    // identically in Spark and DuckDB
    "q324_moore_lewis" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val inLm = graft.core.LanguageModel.trainBigram(
        d.filter(col("doc_id") % 7 === 0))
      val genLm = graft.core.LanguageModel.trainBigram(
        d.filter(col("doc_id") % 7 === 3))
      graft.core.LanguageModel.mooreLewis(d, inLm, genLm)
    }),

    // degenerate-generation loop detector — every 6th doc gets a
    // staged 3-token cycle repeated 4x at its tail; the detector must
    // find the FUNDAMENTAL period (3, not 6) and clean prose must
    // stay unflagged
    "q327_loop_detect" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val aug = concat(col("text"),
        when(col("doc_id") % 6 === 0,
          expr("repeat(' loop cycle end', 4)")).otherwise(lit("")))
      graft.core.TextAnalysis.loopDetect(
        d.select(col("doc_id"), aug.as("text")), "doc_id", "text")
    }),

    // Luhn card scrub — the PII class q54's digit-run heuristic
    // cannot separate: staged valid test cards (every 5th doc, three
    // formats) and an invalid near-miss (every 7th) land in the
    // corpus; the mod-10 checksum (a pure expression fold) accepts
    // exactly the real card shapes and the redaction fold replaces
    // only those
    "q325_luhn_scrub" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val aug = concat(col("text"),
        when(col("doc_id") % 5 === 0, concat(lit(" card "),
          element_at(array(lit("4111 1111 1111 1111"),
            lit("378282246310005"), lit("5500-0055-5555-5559")),
            (col("doc_id") % 3 + 1).cast("int")))).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(" bogus 4111111111111112"))
          .otherwise(lit("")))
      graft.core.TextAnalysis.scrubCards(
        d.select(col("doc_id"), aug.as("text")), "text")
        .select("doc_id", "n_card_candidates", "n_cards_valid",
          "scrubbed")
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q22_token_stats" ->
      """WITH base AS (
        |  SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(t) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
        |    AS BIGINT) AS n_tokens_bpeish,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  round(CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) / len(t), 4)
        |    AS mean_token_len,
        |  round(CAST(len(list_filter(t, x -> list_contains(
        |    ['the','a','of','and','to','in','is','it'], x))) AS DOUBLE) / len(t), 6)
        |    AS stopword_ratio,
        |  round(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
        |    / length(text), 6) AS punct_ratio,
        |  round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
        |    / length(text), 6) AS alpha_ratio
        |FROM base""".stripMargin,

    "q23_langid" ->
      s"""WITH base AS (
        |  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS t
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id,
        |$langScoreCols
        |  FROM base)
        |SELECT doc_id,
        |  CASE
        |    WHEN score_fr > greatest(score_de, score_en, score_es) THEN 'fr'
        |    WHEN score_es > greatest(score_de, score_en) THEN 'es'
        |    WHEN score_en > score_de THEN 'en'
        |    ELSE 'de' END AS lang_pred,
        |  score_en, score_es, score_de, score_fr
        |FROM scored""".stripMargin,

    "q41_tfidf" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |dfreq AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf,
        |    tf.tf * (ln((1.0 + n.n_docs) / (1.0 + dfreq.df)) + 1) AS score,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, tf.term ASC) AS rnk
        |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n)
        |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, tf,
        |  round(score, 6) AS score
        |FROM scored WHERE rnk <= 3""".stripMargin,

    "q37_chunk_features" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    greatest(length(text) // 4, 1) AS cl
        |  FROM documents)
        |SELECT doc_id, CAST(i.range AS BIGINT) AS dim,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(
        |        regexp_split_to_array(substr(text, i.range * cl + 1, cl), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) AS feature
        |FROM base, range(4) i""".stripMargin,

    "q51_curation" ->
      s"""$baseToQualCtes
        |gated AS (
        |  SELECT doc_id, text, t, quality_score,
        |    quality_score >= 0.51 AS quality_ok
        |  FROM qual),
        |keptx AS (
        |  SELECT doc_id, text, t,
        |    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM gated WHERE quality_ok),
        |kept AS (SELECT doc_id, text, t FROM keptx WHERE rn = 1),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(t[i+1:i+3], ' ')
        |     for i in generate_series(0, greatest(len(t)-3, 0))])) AS shingle
        |  FROM kept),
        |$jaccardComponentCtes
        |labels AS (SELECT doc, min(lbl) AS cluster_id FROM cc GROUP BY 1),
        |resolved AS (
        |  SELECT k.doc_id, coalesce(l.cluster_id, k.doc_id) AS survivor_id
        |  FROM kept k LEFT JOIN labels l ON k.doc_id = l.doc)
        |$langPredCols
        |  g.quality_score, g.quality_ok,
        |  (r.doc_id IS NOT NULL) AS kept_exact,
        |  r.survivor_id,
        |  coalesce(r.survivor_id = g.doc_id, FALSE) AS is_survivor
        |FROM gated g
        |JOIN lang lg ON g.doc_id = lg.doc_id
        |LEFT JOIN resolved r ON g.doc_id = r.doc_id""".stripMargin,

    "q53_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |    round(1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6)
        |      AS dup_token_ratio,
        |    unnest([array_to_string(t[i+1:i+2], ' ')
        |      for i in generate_series(0, greatest(len(t)-2, 0))]) AS gram
        |  FROM toks),
        |gc AS (
        |  SELECT doc_id, n_tokens, dup_token_ratio, gram, count(*) AS c
        |  FROM base GROUP BY 1, 2, 3, 4)
        |SELECT doc_id, n_tokens, dup_token_ratio,
        |  CAST(max(c) AS BIGINT) AS top_ngram_count,
        |  round(least(1.0, CAST(max(c) * 2 AS DOUBLE) / n_tokens), 6)
        |    AS top_ngram_ratio
        |FROM gc GROUP BY 1, 2, 3""".stripMargin,

    "q54_pii_scrub" ->
      """WITH aug AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 3 = 0
        |       THEN ' contact u' || doc_id || '@mail.example.com' ELSE '' END
        |    || CASE WHEN doc_id % 4 = 0
        |       THEN ' call ' || (doc_id % 700 + 200) || '-'
        |         || (doc_id % 800 + 100) || '-' || (doc_id % 9000 + 1000)
        |       ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0
        |       THEN ' acct ' || (doc_id + 100000000) ELSE '' END AS aug_text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(aug_text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+')) AS BIGINT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(aug_text,
        |    '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(aug_text, '[0-9]{9,}')) AS BIGINT) AS n_ids,
        |  regexp_replace(regexp_replace(regexp_replace(aug_text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
        |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
        |    '[0-9]{9,}', '<ID>', 'g') AS scrubbed
        |FROM aug""".stripMargin,

    "q59_strip_markup" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    '<html><body data-id="' || doc_id
        |    || '"><h1>T&amp;C</h1><script type="text/js">var x = 1;</script><p>'
        |    || text || '</p>'
        |    || CASE WHEN doc_id % 2 = 0
        |       THEN '<style>p { color: red }</style>&lt;EOF&gt;' ELSE '' END
        |    || '</body></html>' AS html
        |  FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(regexp_replace(
        |        regexp_replace(html,
        |          '<script[^>]*>[^<]*</script>|<style[^>]*>[^<]*</style>', ' ', 'g'),
        |        '<[^>]*>', ' ', 'g'),
        |      '&lt;', '<', 'g'), '&gt;', '>', 'g'),
        |      '&quot;', '"', 'g'), '&#39;', '''', 'g'), '&amp;', '&', 'g'),
        |    '\s+', ' ', 'g')) AS clean_text
        |FROM aug""".stripMargin,

    "q68_lm_score" ->
      s"""WITH tr AS (
        |  SELECT regexp_split_to_array(trim(text), '\\s+') AS t
        |  FROM documents WHERE doc_id % 7 = 0),
        |lm AS (
        |  SELECT p['w1'] AS w1, p['w2'] AS w2, count(*) AS c FROM (
        |    SELECT unnest([{'w1': t[i+1], 'w2': t[i+2]}
        |      for i in generate_series(0, len(t)-2)]) AS p
        |    FROM tr WHERE len(t) >= 2)
        |  GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(sum(c) AS BIGINT) AS c_ctx FROM lm GROUP BY 1),
        |voc AS (SELECT count(DISTINCT tok) AS v
        |        FROM (SELECT unnest(t) AS tok FROM tr)),
        |$scPrCtes
        |terms AS (
        |  SELECT pr.doc_id, coalesce(lm.c, 0) AS c,
        |    coalesce(ctx.c_ctx, 0) AS cctx
        |  FROM pr
        |  LEFT JOIN lm ON pr.p['w1'] = lm.w1 AND pr.p['w2'] = lm.w2
        |  LEFT JOIN ctx ON pr.p['w1'] = ctx.w1),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |    CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |$llScaledCols
        |  FROM terms GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(a.n_bigrams, 0) AS n_bigrams,
        |  coalesce(a.n_oov, 0) AS n_oov,
        |  coalesce(a.ll_scaled, 0) AS ll_scaled
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin,

    // q69: hash(s) = fold((acc*31 + ascii) % 1e9+7) — the same portable
    // rolling hash as q24; buckets = hash % 512; per-bucket fixed-point
    // log-ratio with add-one smoothing; Gumbel noise from
    // hash('dsir:'||id); selection compares BIGINTs only.
    "q69_dsir" ->
      s"""$gramsHashedCtes
        |ct AS (SELECT bucket, count(*) AS c FROM hashed
        |       WHERE doc_id % 10 = 0 GROUP BY 1),
        |cr AS (SELECT bucket, count(*) AS c FROM hashed
        |       WHERE doc_id % 10 <> 0 GROUP BY 1),
        |tot AS (
        |  SELECT (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM ct) AS tt,
        |         (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM cr) AS tr),
        |lr AS (
        |  SELECT b.range AS bucket,
        |    CAST(floor(1e6 * ln(
        |      CAST((coalesce(ct.c, 0) + 1) * (tot.tr + 512) AS DOUBLE) /
        |      CAST((coalesce(cr.c, 0) + 1) * (tot.tt + 512) AS DOUBLE)))
        |      AS BIGINT) AS lr_scaled
        |  FROM range(512) b
        |  LEFT JOIN ct ON b.range = ct.bucket
        |  LEFT JOIN cr ON b.range = cr.bucket
        |  CROSS JOIN tot),
        |w AS (
        |  SELECT h.doc_id,
        |    CAST(sum(lr.lr_scaled) AS BIGINT) AS weight_scaled,
        |    count(*) AS n_grams
        |  FROM hashed h JOIN lr ON h.bucket = lr.bucket
        |  WHERE h.doc_id % 10 <> 0
        |  GROUP BY 1),
        |scored AS (
        |  SELECT doc_id, weight_scaled,
        |    weight_scaled + CAST(floor(1000000.0 *
        |      (-ln(-ln((list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(regexp_split_to_array('dsir:' || CAST(doc_id AS VARCHAR), ''),
        |          c -> CAST(ascii(c) AS BIGINT))),
        |        (acc, c) -> (acc * 31 + c) % 1000000007) + 1)
        |        / 1000000008.0)))) AS BIGINT) AS score_scaled
        |  FROM w),
        |ranked AS (
        |  SELECT row_number() OVER (ORDER BY score_scaled DESC, doc_id ASC)
        |    AS rank, doc_id, weight_scaled, score_scaled
        |  FROM scored)
        |SELECT CAST(rank AS BIGINT) AS rank, doc_id, weight_scaled,
        |  score_scaled
        |FROM ranked WHERE rank <= 100""".stripMargin,

    // q71: q69's gram/bucket CTEs with hash-derived fixed-point
    // weights — the classifier's full scoring decision on BIGINTs.
    "q71_quality_score" ->
      s"""$gramsHashedCtes
        |wt AS (
        |  SELECT b.range AS bucket,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array('w:' || CAST(b.range AS VARCHAR), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) % 1000001 - 500000
        |      AS w_scaled
        |  FROM range(512) b),
        |s AS (
        |  SELECT h.doc_id, CAST(sum(w.w_scaled) AS BIGINT) AS score_scaled,
        |    count(*) AS n_grams
        |  FROM hashed h JOIN wt w ON h.bucket = w.bucket
        |  GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(s.score_scaled, 0) AS score_scaled,
        |  coalesce(s.n_grams, 0) AS n_grams,
        |  coalesce(s.score_scaled, 0) > 0 AS label
        |FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id""".stripMargin,

    // q73: the q51 skeleton with the round-3 stages spliced in —
    // each stage's CTEs are scoped to the previous stage's survivors.
    "q73_curation_full" ->
      s"""$baseToQualCtes
        |rep AS (
        |  SELECT doc_id,
        |    round(1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6)
        |      AS dup_token_ratio
        |  FROM base),
        |gated AS (
        |  SELECT q.doc_id, q.text, q.t, q.quality_score,
        |    q.quality_score >= 0.51 AS quality_ok,
        |    r.dup_token_ratio <= 0.6 AS rep_ok
        |  FROM qual q JOIN rep r ON q.doc_id = r.doc_id),
        |g1 AS (SELECT doc_id, text, t FROM gated WHERE quality_ok AND rep_ok),
        |wins AS (
        |  SELECT doc_id, generate_subscripts(ws, 1) - 1 AS pos,
        |    unnest(ws) AS win
        |  FROM (SELECT doc_id,
        |          [array_to_string(t[i+1:i+8], ' ')
        |           for i in generate_series(0, greatest(len(t)-8, 0))] AS ws
        |        FROM g1)),
        |whash AS (
        |$windowHashCols
        |  FROM wins),
        |wflag AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS cnt
        |    FROM whash)
        |  WHERE cnt >= 2),
        |wcov AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN nxt IS NULL THEN 8
        |              ELSE least(8, nxt - pos) END) AS BIGINT) AS dup_raw
        |  FROM (SELECT doc_id, pos,
        |          lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        |        FROM wflag)
        |  GROUP BY 1),
        |spans AS (
        |  SELECT g.doc_id,
        |    round(CAST(least(coalesce(c.dup_raw, 0), len(g.t)) AS DOUBLE)
        |      / len(g.t), 6) <= 0.8 AS span_ok
        |  FROM g1 g LEFT JOIN wcov c ON g.doc_id = c.doc_id),
        |g2 AS (
        |  SELECT g.doc_id, g.text, g.t
        |  FROM g1 g JOIN spans s ON g.doc_id = s.doc_id WHERE s.span_ok),
        |keptx AS (
        |  SELECT doc_id, text, t,
        |    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM g2),
        |kept AS (SELECT doc_id, text, t FROM keptx WHERE rn = 1),
        |lmp AS (
        |  SELECT doc_id, unnest([{'w1': t[i+1], 'w2': t[i+2]}
        |    for i in generate_series(0, len(t)-2)]) AS p
        |  FROM kept WHERE len(t) >= 2),
        |lm AS (
        |  SELECT p['w1'] AS w1, p['w2'] AS w2, count(*) AS c
        |  FROM lmp GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(sum(c) AS BIGINT) AS c_ctx FROM lm GROUP BY 1),
        |voc AS (SELECT count(DISTINCT tok) AS v
        |        FROM (SELECT unnest(t) AS tok FROM kept)),
        |lterm AS (
        |  SELECT l0.doc_id, coalesce(lm.c, 0) AS c,
        |    coalesce(ctx.c_ctx, 0) AS cctx
        |  FROM lmp l0
        |  LEFT JOIN lm ON l0.p['w1'] = lm.w1 AND l0.p['w2'] = lm.w2
        |  LEFT JOIN ctx ON l0.p['w1'] = ctx.w1),
        |lscore AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |$llScaledCols
        |  FROM lterm GROUP BY 1),
        |lmg AS (
        |  SELECT k.doc_id,
        |    coalesce(s.n_bigrams, 0) AS n_bigrams,
        |    coalesce(s.ll_scaled, 0) AS ll_scaled,
        |    coalesce(s.ll_scaled, 0) >= -3450000 * coalesce(s.n_bigrams, 0)
        |      AS lm_ok
        |  FROM kept k LEFT JOIN lscore s ON k.doc_id = s.doc_id),
        |g3 AS (
        |  SELECT k.doc_id, k.text, k.t
        |  FROM kept k JOIN lmg ON k.doc_id = lmg.doc_id WHERE lmg.lm_ok),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(t[i+1:i+3], ' ')
        |     for i in generate_series(0, greatest(len(t)-3, 0))])) AS shingle
        |  FROM g3),
        |$jaccardComponentCtes
        |labels AS (SELECT doc, min(lbl) AS cluster_id FROM cc GROUP BY 1),
        |resolved AS (
        |  SELECT k.doc_id, coalesce(l.cluster_id, k.doc_id) AS survivor_id
        |  FROM g3 k LEFT JOIN labels l ON k.doc_id = l.doc)
        |$langPredCols
        |  g.quality_score, g.quality_ok, g.rep_ok,
        |  coalesce(s.span_ok, FALSE) AS span_ok,
        |  lmg.n_bigrams, lmg.ll_scaled,
        |  coalesce(lmg.lm_ok, FALSE) AS lm_ok,
        |  (r.doc_id IS NOT NULL) AS kept_exact,
        |  r.survivor_id,
        |  coalesce(r.survivor_id = g.doc_id, FALSE) AS is_survivor
        |FROM gated g
        |JOIN lang lg ON g.doc_id = lg.doc_id
        |LEFT JOIN spans s ON g.doc_id = s.doc_id
        |LEFT JOIN lmg ON g.doc_id = lmg.doc_id
        |LEFT JOIN resolved r ON g.doc_id = r.doc_id""".stripMargin,

    // q76: same n-gram comprehension the q72/q73 oracles pin against
    // ShingleArray (short docs yield their single partial gram).
    "q76_top_ngrams" ->
      """WITH w AS (
        |  SELECT regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |g AS (
        |  SELECT unnest([array_to_string(t[i+1:i+3], ' ')
        |    for i in generate_series(0, greatest(len(t)-3, 0))]) AS ngram
        |  FROM w)
        |SELECT ngram, CAST(count(*) AS BIGINT) AS cnt
        |FROM g GROUP BY 1
        |ORDER BY cnt DESC, ngram LIMIT 100""".stripMargin,

    // q91: q22's quality-score arithmetic (identical ratio/mul/add
    // order) ranked per source, keep rank <= ceil(n/4) — rounding
    // before the rank makes the sort keys bit-identical across
    // engines, so the kept SET is exact, not approximate
    "q91_quality_quantile_gate" ->
      """WITH base AS (
        |  SELECT doc_id, source, text,
        |    regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id, source,
        |    round(CAST(len(list_filter(t, x -> list_contains(
        |        ['the','a','of','and','to','in','is','it'], x))) AS DOUBLE)
        |        / len(t) * 0.4
        |      + CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
        |        / length(text) * 0.6
        |      - CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
        |        / length(text) * 0.5, 6) AS quality_score
        |  FROM base),
        |ranked AS (
        |  SELECT doc_id, source, quality_score,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY quality_score DESC, doc_id) AS grp_rank,
        |    count(*) OVER (PARTITION BY source) AS grp_n
        |  FROM scored)
        |SELECT doc_id, source, quality_score, CAST(grp_rank AS BIGINT) AS grp_rank
        |FROM ranked
        |WHERE grp_rank <= ceil(grp_n * 0.25)""".stripMargin,

    // q123: per-signal global ranks replayed as row_number windows
    // (the scalable two-phase rank must agree under the same total
    // order), exact integer signals, blend = rank sum
    "q123_rank_ensemble" ->
      """WITH c AS (
        |  SELECT doc_id, text,
        |    regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(len(t) AS BIGINT) AS s_len,
        |    CAST(len(list_filter(t, x -> list_contains(
        |      ['the','a','of','and','to','in','is','it'], x))) AS BIGINT)
        |      * 1000000 // CAST(len(t) AS BIGINT) AS s_stop_micro,
        |    CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT)
        |      * 1000000 // greatest(CAST(len(text) AS BIGINT), 1)
        |      AS s_alpha_micro
        |  FROM c),
        |ranks AS (
        |  SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY s_len DESC, doc_id)
        |      AS BIGINT) AS rank_s_len,
        |    CAST(row_number() OVER (ORDER BY s_stop_micro DESC, doc_id)
        |      AS BIGINT) AS rank_s_stop_micro,
        |    CAST(row_number() OVER (ORDER BY s_alpha_micro DESC, doc_id)
        |      AS BIGINT) AS rank_s_alpha_micro
        |  FROM sig)
        |SELECT doc_id, rank_s_len, rank_s_stop_micro, rank_s_alpha_micro,
        |  rank_s_len + rank_s_stop_micro + rank_s_alpha_micro
        |    AS blend_rank
        |FROM ranks""".stripMargin,

    // q144: the same integer PMI argument — c_xy*N*1e6 // (c_x*c_y),
    // min-support 5, deterministic (score DESC, w1, w2) rank
    "q144_pmi_collocations" ->
      s"""WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS a
        |  FROM documents),
        |uni AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(a) AS w FROM toks) GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM uni),
        |$biCtes
        |bc AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy
        |  FROM bi GROUP BY 1, 2 HAVING count(*) >= 5),
        |scored AS (
        |  SELECT bc.w1, bc.w2, bc.c_xy,
        |    CAST(bc.c_xy * t.n_total * 1000000
        |      // (u1.c * u2.c) AS BIGINT) AS score_micro
        |  FROM bc
        |  JOIN uni u1 ON u1.w = bc.w1
        |  JOIN uni u2 ON u2.w = bc.w2
        |  CROSS JOIN tot t),
        |rnk AS (
        |  SELECT CAST(row_number() OVER (
        |      ORDER BY score_micro DESC, w1 ASC, w2 ASC) AS BIGINT) AS rank,
        |    w1, w2, c_xy, score_micro
        |  FROM scored)
        |SELECT rank, w1, w2, c_xy, score_micro FROM rnk
        |WHERE rank <= 20""".stripMargin,

    // q149: the same argmax jump table walked by recursive CTE; the
    // max-step row per start is exactly the engine's stay-put final
    // path (dead ends stop extending, cycles reach step 10)
    "q149_greedy_decode" ->
      s"""WITH RECURSIVE toks AS (
        |  SELECT regexp_split_to_array(trim(text), '\\s+') AS a
        |  FROM documents),
        |$biCtes
        |bc AS (
        |  SELECT w1, w2, count(*) AS c FROM bi GROUP BY 1, 2),
        |jumps AS (
        |  SELECT w1 AS cur, w2 AS nw FROM (
        |    SELECT w1, w2,
        |      row_number() OVER (PARTITION BY w1
        |        ORDER BY c DESC, w2 ASC) AS r
        |    FROM bc) WHERE r = 1),
        |starts AS (
        |  SELECT DISTINCT unnest(a) AS w FROM toks),
        |walk AS (
        |  SELECT w AS start_token, w AS cur,
        |    CAST(w AS VARCHAR) AS gen_path, 0 AS step
        |  FROM starts
        |  UNION ALL
        |  SELECT wk.start_token, j.nw, wk.gen_path || '>' || j.nw,
        |    wk.step + 1
        |  FROM walk wk JOIN jumps j ON j.cur = wk.cur
        |  WHERE wk.step < 10),
        |fin AS (
        |  SELECT start_token, gen_path,
        |    row_number() OVER (PARTITION BY start_token
        |      ORDER BY step DESC) AS rn
        |  FROM walk)
        |SELECT start_token, gen_path FROM fin WHERE rn = 1""".stripMargin,

    // q150: identical keep-first dup flag, token counts, and
    // (count DESC, lang ASC) majority pick
    "q150_corpus_card" ->
      """WITH f AS (
        |  SELECT source, lang,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_toks,
        |    row_number() OVER (PARTITION BY text ORDER BY doc_id) > 1
        |      AS dup
        |  FROM documents),
        |s AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |    CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_exact_dup,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        |  FROM f GROUP BY 1),
        |tl AS (
        |  SELECT source, lang AS top_lang FROM (
        |    SELECT source, lang,
        |      row_number() OVER (PARTITION BY source
        |        ORDER BY count(*) DESC, lang ASC) AS r
        |    FROM documents GROUP BY source, lang) WHERE r = 1)
        |SELECT s.source, s.n_docs, s.n_tokens, s.n_exact_dup, s.n_langs,
        |  tl.top_lang
        |FROM s JOIN tl ON s.source = tl.source""".stripMargin,

    // q155: same per-source (s DESC, doc_id) ranks, same quarter
    // slices, same rank-mirrored join
    "q155_preference_pairs" ->
      s"""WITH base AS (
        |  SELECT doc_id, source, text,
        |    regexp_split_to_array(trim(text), '\\s+') AS t
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, source,
        |    CAST(round($QualityScoreSql * 1000000) AS BIGINT) AS s
        |  FROM base),
        |rk AS (
        |  SELECT doc_id, source, s,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY s DESC, doc_id) AS BIGINT) AS r,
        |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM sc),
        |ch AS (
        |  SELECT source, r AS pair_rank, doc_id AS chosen_id, s AS chosen_s
        |  FROM rk WHERE r <= n // 4),
        |rj AS (
        |  SELECT source, n + 1 - r AS pair_rank, doc_id AS rejected_id,
        |    s AS rejected_s
        |  FROM rk WHERE r > n - (n // 4))
        |SELECT ch.source, ch.pair_rank, chosen_id, rejected_id, chosen_s,
        |  rejected_s, chosen_s - rejected_s AS margin_micro
        |FROM ch JOIN rj
        |  ON ch.source = rj.source AND ch.pair_rank = rj.pair_rank""".stripMargin,

    // q156: the same global (s DESC, doc_id) rank + the same integer
    // phase identity
    "q156_curriculum_phases" ->
      s"""WITH base AS (
        |  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS t
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id,
        |    CAST(round($QualityScoreSql * 1000000) AS BIGINT) AS s_micro
        |  FROM base),
        |rk AS (
        |  SELECT doc_id, s_micro,
        |    CAST(row_number() OVER (ORDER BY s_micro DESC, doc_id)
        |      AS BIGINT) AS rank,
        |    CAST(count(*) OVER () AS BIGINT) AS n
        |  FROM sc)
        |SELECT doc_id, s_micro, rank,
        |  CAST((rank - 1) * 4 // n AS BIGINT) AS phase
        |FROM rk""".stripMargin,

    // q157: the same integer power iteration unrolled 5 times — same
    // edge symmetrization (UNION dedups = .distinct()), same degree
    // table, same per-contribution floors, same damping arithmetic
    "q157_textrank" -> {
      def step(k: Int): String =
        s"""pr$k AS (
           |  SELECT vv.v,
           |    CAST(150000000000 + 85 * COALESCE(s$k.cin, 0) // 100
           |      AS BIGINT) AS r
           |  FROM verts vv LEFT JOIN (
           |    SELECT e.dst AS v, CAST(sum(p.r // d.deg) AS BIGINT) AS cin
           |    FROM pr${k - 1} p
           |    JOIN e0 e ON e.src = p.v
           |    JOIN deg d ON d.src = e.src
           |    GROUP BY 1) s$k ON s$k.v = vv.v)""".stripMargin
      s"""WITH toks AS (
         |  SELECT regexp_split_to_array(trim(text), '\\s+') AS a
         |  FROM documents),
         |$biCtes
         |e0 AS (
         |  SELECT w1 AS src, w2 AS dst FROM bi WHERE w1 <> w2
         |  UNION
         |  SELECT w2 AS src, w1 AS dst FROM bi WHERE w1 <> w2),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
         |        FROM e0 GROUP BY 1),
         |verts AS (SELECT src AS v FROM e0 UNION SELECT dst AS v FROM e0),
         |pr0 AS (SELECT v, CAST(1000000000000 AS BIGINT) AS r FROM verts),
         |${(1 to 5).map(step).mkString(",\n")},
         |rnk AS (
         |  SELECT CAST(row_number() OVER (ORDER BY r DESC, v ASC)
         |      AS BIGINT) AS rank,
         |    v AS token, r AS score_pico
         |  FROM pr5)
         |SELECT rank, token, score_pico FROM rnk WHERE rank <= 20""".stripMargin
    },

    // q162: DuckDB's nfc_normalize implements the same Unicode
    // canonical composition; lengths are codepoints on both engines
    "q162_nfc_normalize" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    replace(text, 'e', 'e' || chr(769)) AS decomposed,
        |    replace(text, 'e', chr(233)) AS precomposed
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(decomposed) AS BIGINT) AS n_decomposed,
        |  CAST(length(nfc_normalize(decomposed)) AS BIGINT) AS n_nfc,
        |  nfc_normalize(decomposed) = precomposed AS nfc_matches_precomposed
        |FROM d""".stripMargin,

    // q177: identical integer counts, cross-multiplied bounds and
    // conjunction
    "q177_gopher_gate" ->
      s"""WITH base AS (
        |  SELECT doc_id, text,
        |    regexp_split_to_array(trim(text), '\\s+') AS t
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |$nWordsToNShortCols
        |  FROM base),
        |r AS (
        |  SELECT *,
        |    (n_words >= 30 AND n_words <= 100000) AS r_len,
        |    (n_wchars >= n_words * 3 AND n_wchars <= n_words * 10) AS r_mwl,
        |    (n_stop >= 2) AS r_stop,
        |    (n_unique * 1000000 // n_words >= 300000) AS r_uniq,
        |    (n_short * 10 <= n_words) AS r_short
        |  FROM f)
        |SELECT doc_id, n_words, n_wchars, n_stop, n_unique, n_short,
        |  r_len, r_mwl, r_stop, r_uniq, r_short,
        |  (r_len AND r_mwl AND r_stop AND r_uniq AND r_short) AS passes
        |FROM r""".stripMargin,

    // q178: same per-source counts, the same token-sorted ordered
    // fold of −p·ln p (ln ulp is the only cross-engine surface — the
    // PSI precedent — and round(_,6) sits after it)
    "q178_token_entropy" ->
      """WITH uni AS (
        |  SELECT source, w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT source,
        |          unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |        FROM documents)
        |  GROUP BY 1, 2),
        |ser AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_types,
        |    CAST(sum(c) AS BIGINT) AS n_tokens,
        |    list(c ORDER BY w) AS cs
        |  FROM uni GROUP BY 1)
        |SELECT source, n_types, n_tokens,
        |  round(list_reduce(list_prepend(CAST(0 AS DOUBLE), cs),
        |    (a, c) -> a - (CAST(c AS DOUBLE) / CAST(n_tokens AS DOUBLE))
        |        * ln(CAST(c AS DOUBLE) / CAST(n_tokens AS DOUBLE))), 6)
        |    AS entropy
        |FROM ser""".stripMargin,

    // q179: the same add-one-smoothed grid, terms built in w order
    // then folded (struct lists can't carry the double seed, so the
    // oracle folds a term list — identical per-element arithmetic)
    "q179_source_kl" ->
      """WITH toks AS (
        |  SELECT source,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |  FROM documents),
        |corpus AS (SELECT w, CAST(count(*) AS BIGINT) AS cc
        |           FROM toks GROUP BY 1),
        |bysrc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS sc
        |          FROM toks GROUP BY 1, 2),
        |grid AS (
        |  SELECT s.source, c.w, c.cc, coalesce(b.sc, 0) AS sc
        |  FROM corpus c
        |  CROSS JOIN (SELECT DISTINCT source FROM toks) s
        |  LEFT JOIN bysrc b ON b.source = s.source AND b.w = c.w),
        |ser AS (
        |  SELECT source, CAST(sum(sc) AS BIGINT) AS n_src,
        |    CAST(sum(cc) AS BIGINT) AS n_corpus,
        |    CAST(count(*) AS BIGINT) AS v,
        |    list(sc ORDER BY w) AS scs,
        |    list(cc ORDER BY w) AS ccs
        |  FROM grid GROUP BY 1)
        |SELECT source, n_src, v,
        |  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    [(CAST(scs[i+1] + 1 AS DOUBLE) / CAST(n_src + v AS DOUBLE))
        |     * ln((CAST(scs[i+1] + 1 AS DOUBLE) / CAST(n_src + v AS DOUBLE))
        |         / (CAST(ccs[i+1] + 1 AS DOUBLE)
        |            / CAST(n_corpus + v AS DOUBLE)))
        |     for i in generate_series(0, CAST(v AS INT) - 1)]),
        |    (a, b) -> a + b), 6) AS kl
        |FROM ser""".stripMargin,

    // q192: the q177 rule battery kept per source, UNION-ALL unpivot,
    // exact integer pass shares
    "q192_rule_source_matrix" ->
      s"""WITH base AS (
        |  SELECT source, text,
        |    regexp_split_to_array(trim(text), '\\s+') AS t
        |  FROM documents),
        |f AS (
        |  SELECT source,
        |$nWordsToNShortCols
        |  FROM base),
        |r AS (
        |  SELECT source,
        |    (n_words >= 30 AND n_words <= 100000) AS r_len,
        |    (n_wchars >= n_words * 3 AND n_wchars <= n_words * 10) AS r_mwl,
        |    (n_stop >= 2) AS r_stop,
        |    (n_unique * 1000000 // n_words >= 300000) AS r_uniq,
        |    (n_short * 10 <= n_words) AS r_short
        |  FROM f),
        |un AS (
        |  SELECT source, 'r_len' AS rule, r_len AS pass FROM r
        |  UNION ALL SELECT source, 'r_mwl', r_mwl FROM r
        |  UNION ALL SELECT source, 'r_stop', r_stop FROM r
        |  UNION ALL SELECT source, 'r_uniq', r_uniq FROM r
        |  UNION ALL SELECT source, 'r_short', r_short FROM r)
        |SELECT source, rule, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        |  CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) * 1000000 // count(*)
        |    AS BIGINT) AS pass_micro
        |FROM un GROUP BY 1, 2""".stripMargin,

    // q212: same rank-matched battles and the same 5 MM floor
    // iterations as a WITH RECURSIVE list fold (q210 mechanics)
    "q212_bradley_terry" ->
      s"""WITH RECURSIVE base AS (
        |  SELECT doc_id, source, text,
        |    regexp_split_to_array(trim(text), '\\s+') AS t
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, source,
        |    CAST(round($QualityScoreSql * 1000000) AS BIGINT) AS sm
        |  FROM base),
        |rk AS (
        |  SELECT doc_id, source, sm,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY sm DESC, doc_id) AS BIGINT) AS r
        |  FROM sc),
        |battles AS (
        |  SELECT a.source AS sa, b.source AS sb,
        |    CASE WHEN a.sm > b.sm
        |           OR (a.sm = b.sm AND a.doc_id < b.doc_id)
        |      THEN 1 ELSE 0 END AS wa
        |  FROM rk a JOIN rk b ON a.r = b.r AND a.source < b.source),
        |matrix AS (
        |  SELECT sa, sb, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(wa) AS BIGINT) AS w
        |  FROM battles GROUP BY 1, 2),
        |edges AS (
        |  SELECT sa AS i, sb AS j, n, w FROM matrix
        |  UNION ALL SELECT sb, sa, n, n - w FROM matrix),
        |peritem AS (
        |  SELECT i AS source, CAST(sum(w) AS BIGINT) AS n_wins,
        |    CAST(sum(n) AS BIGINT) AS n_battles
        |  FROM edges GROUP BY 1),
        |lists AS (
        |  SELECT list(struct_pack(i := i, j := j, n := n, w := w)) AS edges,
        |    list_sort(list(DISTINCT i)) AS items
        |  FROM edges),
        |rec AS (
        |  SELECT edges, items, 0 AS it,
        |    list_transform(items, x -> CAST(1000000 AS BIGINT)) AS s
        |  FROM lists
        |  UNION ALL
        |  SELECT edges, items, it + 1,
        |    list_transform(items, x ->
        |      CAST(CAST(coalesce(list_sum(list_transform(
        |          list_filter(edges, e -> e.i = x), e -> e.w)), 0)
        |        AS BIGINT) * 1000000000000
        |      // greatest(CAST(coalesce(list_sum(list_transform(
        |          list_filter(edges, e -> e.i = x),
        |          e -> e.n * 1000000000000 // greatest(
        |            s[list_position(items, e.i)]
        |            + s[list_position(items, e.j)], 1))), 0) AS BIGINT),
        |        1) AS BIGINT))
        |  FROM rec WHERE it < 5),
        |fin AS (
        |  SELECT unnest(items) AS source, unnest(s) AS sv,
        |    CAST(list_sum(s) AS BIGINT) AS stot,
        |    len(items) AS ni
        |  FROM rec WHERE it = 5)
        |SELECT p.source, p.n_wins, p.n_battles,
        |  CAST(sv * (ni * 1000000) // greatest(stot, 1) AS BIGINT)
        |    AS bt_micro
        |FROM fin f JOIN peritem p ON p.source = f.source""".stripMargin,

    // q323: word trigrams per source, one grouped count + one
    // per-source aggregation
    "q323_distinct_n" ->
      """WITH toks AS (
        |  SELECT source, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |g AS (
        |  SELECT source, t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS g
        |  FROM toks, unnest(generate_series(0, len(t) - 3)) AS u(i)
        |  WHERE len(t) >= 3),
        |c AS (SELECT source, g, CAST(count(*) AS BIGINT) AS c
        |      FROM g GROUP BY 1, 2)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_grams,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(count(*) * 1000000 // sum(c) AS BIGINT) AS distinct_micro
        |FROM c GROUP BY source""".stripMargin,

    // q324: the q68 add-one bigram scoring replayed TWICE (in-domain
    // slice % 7 = 0, general slice % 7 = 3) and differenced; // and
    // Spark's DIV share truncation-toward-zero on signed values
    "q324_moore_lewis" ->
      s"""WITH tr_in AS (
        |  SELECT regexp_split_to_array(trim(text), '\\s+') AS t
        |  FROM documents WHERE doc_id % 7 = 0),
        |lm_in AS (
        |  SELECT p['w1'] AS w1, p['w2'] AS w2, count(*) AS c FROM (
        |    SELECT unnest([{'w1': t[i+1], 'w2': t[i+2]}
        |      for i in generate_series(0, len(t)-2)]) AS p
        |    FROM tr_in WHERE len(t) >= 2)
        |  GROUP BY 1, 2),
        |ctx_in AS (SELECT w1, CAST(sum(c) AS BIGINT) AS c_ctx
        |           FROM lm_in GROUP BY 1),
        |voc_in AS (SELECT count(DISTINCT tok) AS v
        |           FROM (SELECT unnest(t) AS tok FROM tr_in)),
        |tr_gen AS (
        |  SELECT regexp_split_to_array(trim(text), '\\s+') AS t
        |  FROM documents WHERE doc_id % 7 = 3),
        |lm_gen AS (
        |  SELECT p['w1'] AS w1, p['w2'] AS w2, count(*) AS c FROM (
        |    SELECT unnest([{'w1': t[i+1], 'w2': t[i+2]}
        |      for i in generate_series(0, len(t)-2)]) AS p
        |    FROM tr_gen WHERE len(t) >= 2)
        |  GROUP BY 1, 2),
        |ctx_gen AS (SELECT w1, CAST(sum(c) AS BIGINT) AS c_ctx
        |            FROM lm_gen GROUP BY 1),
        |voc_gen AS (SELECT count(DISTINCT tok) AS v
        |            FROM (SELECT unnest(t) AS tok FROM tr_gen)),
        |$scPrCtes
        |agg_in AS (
        |  SELECT pr.doc_id, count(*) AS n_bigrams,
        |    CAST(sum(CAST(floor(1e6 * ln(
        |      CAST(coalesce(lm.c, 0) + 1 AS DOUBLE) /
        |      CAST(coalesce(ctx.c_ctx, 0) + (SELECT v FROM voc_in)
        |        AS DOUBLE))) AS BIGINT)) AS BIGINT) AS ll
        |  FROM pr
        |  LEFT JOIN lm_in lm ON pr.p['w1'] = lm.w1 AND pr.p['w2'] = lm.w2
        |  LEFT JOIN ctx_in ctx ON pr.p['w1'] = ctx.w1
        |  GROUP BY 1),
        |agg_gen AS (
        |  SELECT pr.doc_id, count(*) AS n_bigrams,
        |    CAST(sum(CAST(floor(1e6 * ln(
        |      CAST(coalesce(lm.c, 0) + 1 AS DOUBLE) /
        |      CAST(coalesce(ctx.c_ctx, 0) + (SELECT v FROM voc_gen)
        |        AS DOUBLE))) AS BIGINT)) AS BIGINT) AS ll
        |  FROM pr
        |  LEFT JOIN lm_gen lm ON pr.p['w1'] = lm.w1 AND pr.p['w2'] = lm.w2
        |  LEFT JOIN ctx_gen ctx ON pr.p['w1'] = ctx.w1
        |  GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  CAST(coalesce(a.ll, 0) AS BIGINT) AS ll_in_scaled,
        |  CAST(coalesce(b.ll, 0) AS BIGINT) AS ll_gen_scaled,
        |  CAST(CASE WHEN coalesce(a.n_bigrams, 0) > 0 THEN
        |      (a.ll - b.ll) // a.n_bigrams
        |    ELSE 0 END AS BIGINT) AS ml_score_scaled
        |FROM documents d
        |LEFT JOIN agg_in a ON d.doc_id = a.doc_id
        |LEFT JOIN agg_gen b ON d.doc_id = b.doc_id""".stripMargin,

    // q327: the same staging; per (doc, period) the first mismatch
    // from the end via a list comprehension, repeats = s_p // p + 1,
    // best period by (repeats DESC, period ASC)
    "q327_loop_detect" ->
      """WITH aug AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 6 = 0 THEN repeat(' loop cycle end', 4)
        |    ELSE '' END AS text
        |  FROM documents),
        |tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+'))
        |      AS BIGINT) AS L
        |  FROM aug),
        |per AS (
        |  SELECT doc_id, L, p,
        |    CASE WHEN L >= 2 * p THEN
        |      (coalesce(list_min([CAST(i AS BIGINT)
        |          for i in generate_series(1, L - p)
        |          if t[CAST(L - i + 1 AS INT)]
        |             <> t[CAST(L - i + 1 - p AS INT)]]) - 1,
        |        L - p) // p) + 1
        |    ELSE 1 END AS r
        |  FROM tk, unnest(generate_series(1, 8)) AS u(p)),
        |best AS (
        |  SELECT doc_id, L, p, r,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY r DESC, p ASC) AS rn
        |  FROM per)
        |SELECT doc_id, L AS n_tokens, CAST(p AS BIGINT) AS best_period,
        |  CAST(r AS BIGINT) AS best_repeats, r >= 3 AS loop_flag
        |FROM best WHERE rn = 1""".stripMargin,

    // q325: the same staging, the same Luhn fold (reverse digits,
    // double odd positions, 9-subtract), the same longest-first
    // redaction (lengths grouped descending, values ascending inside
    // a length — matching Spark's comparator sort)
    "q325_luhn_scrub" ->
      """WITH aug AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' card ' ||
        |      ['4111 1111 1111 1111', '378282246310005',
        |       '5500-0055-5555-5559'][CAST(doc_id % 3 + 1 AS INT)]
        |    ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' bogus 4111111111111112'
        |    ELSE '' END AS text
        |  FROM documents),
        |cand AS (
        |  SELECT doc_id, text,
        |    regexp_extract_all(text, '[0-9](?:[ -]?[0-9]){12,18}') AS cs
        |  FROM aug),
        |v AS (
        |  SELECT doc_id, text, cs,
        |    [c for c in cs if list_sum([
        |      CASE WHEN (i - 1) % 2 = 1 THEN
        |        CASE WHEN (ascii(substr(reverse(
        |            replace(replace(c, '-', ''), ' ', '')), i, 1)) - 48)
        |            * 2 > 9
        |          THEN (ascii(substr(reverse(
        |            replace(replace(c, '-', ''), ' ', '')), i, 1)) - 48)
        |            * 2 - 9
        |          ELSE (ascii(substr(reverse(
        |            replace(replace(c, '-', ''), ' ', '')), i, 1)) - 48)
        |            * 2 END
        |      ELSE ascii(substr(reverse(
        |        replace(replace(c, '-', ''), ' ', '')), i, 1)) - 48 END
        |      for i in generate_series(1,
        |        length(replace(replace(c, '-', ''), ' ', '')))]) % 10 = 0]
        |      AS valid
        |  FROM cand),
        |srt AS (
        |  SELECT doc_id, text, cs, valid,
        |    flatten([list_sort([c for c in valid if length(c) = L])
        |      for L in generate_series(23, 13, -1)]) AS ordered
        |  FROM v)
        |SELECT doc_id,
        |  CAST(len(cs) AS BIGINT) AS n_card_candidates,
        |  CAST(len(valid) AS BIGINT) AS n_cards_valid,
        |  list_reduce(list_prepend(text, ordered),
        |    (acc, c) -> regexp_replace(regexp_replace(acc,
        |      '(^|[^0-9])' || c || '([^0-9]|$)', '\1<CARD>\2', 'g'),
        |      '(^|[^0-9])' || c || '([^0-9]|$)', '\1<CARD>\2', 'g'))
        |    AS scrubbed
        |FROM srt""".stripMargin
  )

  /** CTEs `base`, `ratios`, `lang`, `qual` shared by the q51 and q73
    * oracles.
    */
  private lazy val baseToQualCtes: String =
    s"""WITH RECURSIVE base AS (
      |  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS t
      |  FROM documents),
      |ratios AS (
      |$qualityRatioCols
      |  FROM base),
      |lang AS (
      |  SELECT doc_id,
      |$langScoreCols
      |  FROM base),
      |qual AS (
      |  SELECT doc_id, text, t,
      |    round(sw * 0.4 + alpha * 0.6 - punct * 0.5, 6) AS quality_score
      |  FROM ratios),""".stripMargin

  /** CTEs `grams`, `hashed` shared by the q69 and q71 oracles. */
  private lazy val gramsHashedCtes: String =
    """WITH grams AS (
      |  SELECT doc_id, unnest(list_concat(t,
      |    [array_to_string(t[i+1:i+2], ' ')
      |     for i in generate_series(0, greatest(len(t)-2, 0))]))
      |    AS gram
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |        FROM documents)),
      |hashed AS (
      |  SELECT doc_id,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(regexp_split_to_array(gram, ''),
      |        c -> CAST(ascii(c) AS BIGINT))),
      |      (acc, c) -> (acc * 31 + c) % 1000000007) % 512 AS bucket
      |  FROM grams),""".stripMargin

  /** Column expressions shared by the q177 and q192 oracles. */
  private lazy val nWordsToNShortCols: String =
    """    CAST(len(t) AS BIGINT) AS n_words,
      |    CAST(length(regexp_replace(text, '\s+', '', 'g')) AS BIGINT)
      |      AS n_wchars,
      |    CAST(len(list_filter(t, x -> list_contains(
      |      ['the','a','of','and','to','in','is','it'], x))) AS BIGINT)
      |      AS n_stop,
      |    CAST(len(list_distinct(t)) AS BIGINT) AS n_unique,
      |    CAST(len(list_filter(t, x -> length(x) = 1)) AS BIGINT)
      |      AS n_short""".stripMargin

  /** CTEs `sc`, `pr` shared by the q68 and q324 oracles. */
  private lazy val scPrCtes: String =
    """sc AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents),
      |pr AS (
      |  SELECT doc_id, unnest([{'w1': t[i+1], 'w2': t[i+2]}
      |    for i in generate_series(0, len(t)-2)]) AS p
      |  FROM sc WHERE len(t) >= 2),""".stripMargin

  /** CTE `bi` shared by the q144, q149 and q157 oracles. */
  private lazy val biCtes: String =
    """bi AS (
      |  SELECT a[i + 1] AS w1, a[i + 2] AS w2
      |  FROM (SELECT a, unnest(generate_series(0, len(a) - 2)) AS i
      |        FROM toks WHERE len(a) >= 2)),""".stripMargin

  /** Column expressions shared by the q51 and q73 oracles. */
  private lazy val langPredCols: String =
    """SELECT g.doc_id,
      |  CASE
      |    WHEN lg.score_fr > greatest(lg.score_de, lg.score_en, lg.score_es) THEN 'fr'
      |    WHEN lg.score_es > greatest(lg.score_de, lg.score_en) THEN 'es'
      |    WHEN lg.score_en > lg.score_de THEN 'en'
      |    ELSE 'de' END AS lang_pred,""".stripMargin
}
