package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import Shared._

/** Queries, each with its DuckDB oracle, for statistical tests, evaluation
  * metrics, profiling, drift, sampling and privacy over `events`,
  * `documents` and the TPC-H tables.
  */
private[graft] object StatsEvalQueries extends QueryDomain {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // per-source quota (corpus balancing): keep the 15 lowest-id docs
    // per source, emit the full audit
    "q55_source_quota" -> ((s, dir) => {
      graft.core.Sampling.groupQuota(Tables.documents(s, dir),
          "source", "doc_id", cap = 15)
        .select(col("doc_id"), col("source"),
          col("src_rank").cast("long").as("src_rank"), col("quota_kept"))
    }),

    // portable hash train/val/test split: the assignment is a pure
    // function of (id, seed) via the engine's rolling hash, so the
    // oracle reproduces the exact split
    "q60_hash_split" -> ((s, dir) => {
      graft.core.Sampling.hashSplit(Tables.documents(s, dir), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
    }),

    // data-quality profile: per-column completeness/cardinality/range
    // in one scan — the before/after report of every ingest stage
    "q63_profile" -> ((s, dir) => {
      graft.core.Profile.profile(Tables.documents(s, dir))
    }),

    // temperature-flattened source mixing at alpha=0.5: rate
    // sqrt(n_min/n_s) per source, portable value-hash Bernoulli —
    // sqrt and division are IEEE-exact, so even the quantized
    // threshold is engine-identical. Full audit, no corpus shuffle.
    "q77_temperature_mix" -> ((s, dir) => {
      Sampling.temperatureSample(Tables.documents(s, dir), "source",
          "doc_id", alpha = 0.5, seed = 42L)
        .select(col("doc_id"), col("source"), col("n_source"),
          col("keep_below"), col("mix_hash"), col("mix_kept"))
    }),

    // Isolation-forest scoring under a full oracle (q28 keeps the
    // 200-tree sklearn export rows-only — embedding ~150k parameters
    // in SQL is not an oracle, it's a transcript). A deterministic
    // 16-tree fixed ensemble (integer-derived structure the DuckDB
    // side REGENERATES and walks with a recursive CTE) goes through
    // the exact decisionFunction path q28 uses, so traversal, c(n)
    // depth correction, and the 2^(-x) score are all hash-pinned.
    // Features are exact integer arithmetic over doc_id: both engines
    // compute bit-identical doubles, so every tree path is identical
    // by construction, not by tolerance.
    "q89_isoforest_fixed" -> ((s, dir) => {
      import graft.ml.IsoForestScorer
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val feats = IsoForestScorer.fixedFeatures(docs, col("doc_id"))
      IsoForestScorer.scoreFeatures(feats, Seq("f0", "f1", "f2", "f3"),
          IsoForestScorer.fixedEnsemble)
        .select(col("doc_id"), round(col("score"), 6).as("score"))
    }),

    // PSI drift report: each source's token-length distribution vs
    // the whole corpus, add-one smoothed over a dense 16-bucket grid,
    // per-bucket terms floored to 1e-6 BIGINT (order-free sums)
    "q108_psi_drift" -> ((s, dir) => {
      val d = Tables.documents(s, dir).withColumn("n_tokens",
        size(TextAnalysis.tokens(col("text"))).cast("long"))
      graft.core.Profile.psi(d, "source",
        expr("least(n_tokens DIV 32, 15)"), nBuckets = 16)
    }),

    // KS drift report: PSI's rank-statistic sibling over the same
    // source/token-length grid — max CDF gap per source vs the corpus,
    // order-free integer cumsums + one division per side, so the
    // fixed-point result has NO cross-engine ulp surface at all
    "q111_ks_drift" -> ((s, dir) => {
      val d = Tables.documents(s, dir).withColumn("n_tokens",
        size(TextAnalysis.tokens(col("text"))).cast("long"))
      graft.core.Profile.ks(d, "source",
        expr("least(n_tokens DIV 32, 15)"), nBuckets = 16)
    }),

    // OOV drift: per-source share of tokens outside the corpus-head
    // vocabulary (top-256 by count, deterministic tie-break) — the
    // tokenizer-health stat next to PSI/KS; exact integer fixed-point
    "q114_oov_drift" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.oovRate(docs, "source", "text",
        TextAnalysis.topVocab(docs, "text", size = 256))
    }),

    // column profiling card (the data-quality report every engine
    // ships): per column — rows, nulls, distinct non-nulls, and the
    // deterministic top value ((count DESC, value ASC) rank 1). One
    // aggregate pass per column over a string-cast projection; the
    // per-column plans are independent scans Catalyst can prune to
    // single columns
    "q148_column_profile" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      Seq("lang", "source", "n_chars").map { c =>
        val vals = docs.select(col(c).cast("string").as("v"))
        val stats = vals.agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_nulls"),
          countDistinct(col("v")).as("n_distinct"))
        val w = Window.orderBy(desc("cnt"), asc("v"))
        val top = vals.filter(col("v").isNotNull)
          .groupBy("v").agg(count(lit(1)).as("cnt"))
          .withColumn("rnk", row_number().over(w)).filter(col("rnk") === 1)
          .select(col("v").as("top_value"), col("cnt").as("top_count"))
        stats.crossJoin(top).select(lit(c).as("column"), col("n_rows"),
          col("n_nulls"), col("n_distinct"), col("top_value"),
          col("top_count"))
      }.reduce(_ unionByName _)
    }),

    // exact ROC-AUC of the heuristic quality score against the
    // is-English label (the stopword/trigram features ARE English
    // features, so the score is a real soft classifier for this
    // label): tied-pair counting over the micro-score lattice, all
    // BIGINT — the filter-audit number a gate ships with
    "q151_roc_auc" -> ((s, dir) => {
      val scored = TextAnalysis.qualityScore(Tables.documents(s, dir), "text")
      Eval.rocAuc(scored,
        expr("CAST(round(quality_score * 1000000) AS BIGINT)"),
        col("lang") === "en")
    }),

    // language-ID confusion matrix vs the gold lang column: observed
    // (gold, pred) cells with counts and exact per-cell recall share
    "q152_langid_confusion" -> ((s, dir) => {
      val pred = TextAnalysis.langId(Tables.documents(s, dir), "text")
      Eval.confusion(pred, col("lang"), col("lang_pred"))
    }),

    // reliability bins of the quality score vs the is-English label:
    // 10 cells over [0.48, 0.58] (the corpus's observed score band, so
    // the gate exercises the whole grid), per-cell count / positives /
    // exact positive rate / score mass
    "q153_calibration_bins" -> ((s, dir) => {
      val scored = TextAnalysis.qualityScore(Tables.documents(s, dir), "text")
      Eval.calibrationBins(scored,
        expr("CAST(round(quality_score * 1000000) AS BIGINT)"),
        col("lang") === "en", 480000L, 580000L, 10)
    }),

    // Cohen's kappa of language-ID vs gold — chance-corrected
    // multiclass agreement, exact integer kappa_micro
    "q154_cohen_kappa" -> ((s, dir) => {
      val pred = TextAnalysis.langId(Tables.documents(s, dir), "text")
      Eval.cohenKappa(pred, col("lang"), col("lang_pred"))
    }),

    // deterministic k-per-group sample: hash-rank by the portable
    // rolling hash of id:seed — reservoir-sampling guarantees plus
    // exact replayability (and a second gate through the native
    // RollingHash codegen expression)
    "q160_group_sample" -> ((s, dir) =>
      Sampling.kPerGroup(Tables.documents(s, dir), "source", "doc_id",
        k = 5, seed = 42L)),

    // Benford first-digit audit of order totals — the forensic
    // data-quality stat (fabricated/capped columns fail it). Dense
    // 1–9 digit grid, exact micro shares, expectation as fixed micro
    // literals (no runtime log10). All BIGINT
    "q222_benford" -> ((s, dir) =>
      Profile.benford(Tables.load(s, dir, "orders"), col("o_totalprice"))),

    // two-proportion z-test over a deterministic 50/50 user hash
    // split — the A/B readout: arm from the portable-hash split (the
    // q60 machinery — reproducible across engines and reruns),
    // success = the user reached 5 purchases. Corpus collapses to 4
    // exact BIGINTs; z is ONE fixed float expression at the end
    // (every op IEEE-correctly-rounded → bit-identical replay)
    "q223_ab_ztest" -> ((s, dir) => {
      val users = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("n_purch"))
      val armed = Sampling.hashSplit(
        users, "user_id", Seq(("a", 0.5), ("b", 0.5)))
      Eval.twoProportionZ(armed, col("split"),
        col("n_purch") >= 5, "a", "b")
    }),

    // per-source ROC-AUC of the quality score vs the is-English label:
    // the slice audit a corpus-wide AUC hides (q151's tied-pair
    // arithmetic, group-partitioned lattice windows)
    "q249_group_auc" -> ((s, dir) => {
      val scored = TextAnalysis.qualityScore(Tables.documents(s, dir), "text")
      Eval.rocAucBy(scored, col("source"),
          expr("CAST(round(quality_score * 1000000) AS BIGINT)"),
          col("lang") === "en")
        .withColumnRenamed("grp", "source")
    }),

    // k-anonymity audit of the customer table over the
    // (nation, segment, balance-band) quasi-identifiers — the
    // re-identification report a table ships with (q54 scrubs PII
    // STRINGS; this measures what the structured columns still leak)
    "q251_kanonymity" -> ((s, dir) => {
      Privacy.kAnonymityReport(Tables.load(s, dir, "customer"),
        Seq(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_band")),
        ks = Seq(2, 5, 10, 20))
    }),

    // one-way ANOVA of purchase value (cents) across event types —
    // the k-armed mean test beside the two-arm z-test (q223); exact
    // BIGINT sufficient stats, order-free micro contributions, one
    // fixed float expression for F at the end
    "q257_anova" -> ((s, dir) => {
      Eval.anovaF(Tables.events(s, dir), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)"))
    }),

    // difference-in-differences on purchase value: treated = even
    // user_id, post = Jan 16+ — the causal panel estimate beside the
    // two-arm z-test (q223) and CUPED (q231); exact BIGINT cell stats,
    // one fixed float tree each for the estimate and its SE
    "q259_did" -> ((s, dir) => {
      Eval.diffInDiff(
        Tables.events(s, dir).filter(col("event_type") === "purchase"),
        col("user_id") % 2 === 0,
        col("ts") >= lit("2024-01-16"),
        expr("CAST(round(value * 100) AS BIGINT)"))
    }),

    // mutual information between event type and weekday (Mon=0) — the
    // categorical dependence audit (is traffic mix day-of-week
    // stable?); exact BIGINT grid, micro-rounded per-cell
    // contributions so the sum is order-free
    "q260_mutual_info" -> ((s, dir) => {
      Eval.mutualInformation(Tables.events(s, dir),
        col("event_type"), weekday(to_date(col("ts"))))
    }),

    // Pearson chi-square independence + Cramér's V over the q260 grid
    // (the frequentist complement to mutual information): zero cells
    // contribute E, so the grid completes to the full cross product —
    // model-size by the bounded-cardinality contract
    "q263_chi2" -> ((s, dir) =>
      Eval.chiSquare(Tables.events(s, dir), col("event_type"),
        weekday(to_date(col("ts"))))),

    // Wald SPRT per event type: early-stopping sequential test on the
    // ordered Bernoulli stream value>=32, H0 p=0.45 vs H1 p=0.55 at
    // alpha=beta=0.05 — increments and boundaries are four micro
    // BIGINT literals, the running LLR is an exact integer window sum
    "q265_sprt" -> ((s, dir) =>
      Eval.sprt(Tables.events(s, dir), col("event_type"),
        Seq(col("ts"), col("event_id")), col("value") >= 32.0,
        p0 = 0.45, p1 = 0.55)),

    // Mann-Whitney U per event type (even vs odd users): the
    // nonparametric two-sample readout beside q223's z and q257's F —
    // ranks live on the per-type cents lattice (never a row sort),
    // doubled midranks keep tie-averaging integer, z is one float tree
    "q266_mann_whitney" -> ((s, dir) =>
      Eval.mannWhitneyU(Tables.events(s, dir), col("event_type"),
        when(col("user_id") % 2 === 0, "even").otherwise("odd"),
        expr("CAST(round(value * 100) AS BIGINT)"), "even", "odd")),

    // two-arm log-rank over the q208 survival data (same-type
    // inter-event waits with right-censoring at observation end):
    // do even and odd users' waiting-time curves differ? Per-death
    // contributions micro-round before the cross-time sum
    "q267_log_rank" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_timestamp(col("ts")).as("fe"), col("event_id"))
      val maxFe = ev.agg(max("fe").as("max_fe"))
      val wLead = Window.partitionBy("user_id", "event_type")
        .orderBy(col("fe"), col("event_id"))
      val obs = ev.withColumn("nxt", lead(col("fe"), 1).over(wLead))
        .crossJoin(broadcast(maxFe))
        .select(col("event_type"),
          when(col("nxt").isNotNull, col("nxt") - col("fe"))
            .otherwise(col("max_fe") - col("fe")).as("dur"),
          col("nxt").isNotNull.as("death"),
          (col("user_id") % 2 === 0).as("treated"))
      Eval.logRank(obs, col("event_type"), col("dur"), col("death"),
        col("treated"))
    }),

    // Spearman rank correlation per event type between value and hour
    // of day — the monotone-association audit Pearson misreads on
    // heavy-tailed value; both marginals rank on bounded lattices
    // (cents / 24 hours), rho is one float tree over DECIMAL sums
    "q268_spearman" -> ((s, dir) =>
      Eval.spearman(Tables.events(s, dir), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)"),
        hour(col("ts")).cast("long"))),

    // sign-flip permutation test per event type (unit = user, treated
    // = even id) + Benjamini-Hochberg across the 5-test family —
    // p-values are exact integer ratios (1+exceedances)/(B+1) from
    // portable-hash replicates, every BH comparison cross-multiplied
    // to integers; B=199 makes alpha*(B+1)=10 exact
    "q269_perm_fdr" -> ((s, dir) =>
      Eval.permTestFdr(Tables.events(s, dir), col("event_type"),
        col("user_id"), expr("CAST(round(value * 100) AS BIGINT)"),
        col("user_id") % 2 === 0, b = 199, alpha = 0.05, seed = 42L)),

    // multinomial Naive Bayes source attribution: train on even
    // doc_ids (label = source), predict odd — the whole
    // train→score→argmax loop is exact integer fixed point, so the
    // per-doc predictions and scores replay relationally end to end
    "q271_naive_bayes" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val model = graft.ml.NaiveBayes.train(
        d.filter(col("doc_id") % 2 === 0), col("source"), col("text"))
      graft.ml.NaiveBayes.predict(model,
        d.filter(col("doc_id") % 2 === 1), "doc_id", col("text"))
        .withColumnRenamed("id", "doc_id")
    }),

    // isotonic calibration of a value-derived score against the
    // mod-7 label band — the MONOTONE calibration map (minimax closed
    // form == pool-adjacent-violators) next to the raw bins of q153;
    // all block averages are exact integer DIVs over bin prefix sums
    "q272_isotonic" -> ((s, dir) =>
      Eval.isotonicCalibration(Tables.events(s, dir),
        expr("CAST(round(value * 2000) AS BIGINT)"),
        expr("pmod(CAST(round(value * 100) AS BIGINT), 7) < 3"),
        loMicro = 0L, hiMicro = 1000000L, nBins = 50)),

    // Gini concentration of customer revenue per nation — the
    // inequality summary beside the threshold share (q189): exact
    // lattice rank blocks, DECIMAL sums, one integer DIV at the end
    "q273_gini" -> ((s, dir) => {
      val perCust = Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .as("cents"))
      val withNation = perCust
        .join(Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
      Eval.gini(withNation, col("c_nationkey").cast("long"), col("cents"))
    }),

    // ROUGE-2 per (candidate, reference) pair — generation-eval
    // n-gram overlap (Lin 2004) in exactly-rational form (F1 =
    // 2m/(c+r) — no geometric mean, no brevity exp). Candidates are
    // staged from the corpus: each doc's text with its first
    // doc_id%4 tokens dropped, so matches/clipping/empty edges all
    // occur in-data
    "q307_rouge" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"),
        col("text").as("ref"),
        expr("""concat_ws(' ', slice(split(trim(text), '\\s+'),
            CAST(doc_id % 4 + 1 AS INT), 1000000))""").as("cand"))
      Eval.rougeN(d, "doc_id", col("cand"), col("ref"), n = 2)
    }),

    // ROUGE-L over the same staged candidates as q307: token-level
    // LCS (native two-row DP expression, O(c·r) per pair, no join),
    // exactly-rational P/R/F from (lcs, c, r) — the subsequence
    // member completing the q307/q308 generation-eval family
    "q309_rouge_l" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"),
        col("text").as("ref"),
        expr("""concat_ws(' ', slice(split(trim(text), '\\s+'),
            CAST(doc_id % 4 + 1 AS INT), 1000000))""").as("cand"))
      Eval.rougeL(d, "doc_id", col("cand"), col("ref"))
    }),

    // corpus BLEU components over the same staged candidates as
    // q307: per-order clipped matches + candidate-gram totals +
    // corpus lengths — BLEU's exact-integer core, the float
    // exp/geomean composition stays caller-side
    "q308_bleu_components" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"),
        col("text").as("ref"),
        expr("""concat_ws(' ', slice(split(trim(text), '\\s+'),
            CAST(doc_id % 4 + 1 AS INT), 1000000))""").as("cand"))
      Eval.bleuComponents(d, "doc_id", col("cand"), col("ref"), maxN = 4)
    }),

    // one-way ANOVA across event types on cent-quantized values — the
    // k-group mean test between q223's two-arm z and the rank-based
    // Mann-Whitney; exact-integer core (per-group sums squared over
    // DECIMAL(38,0), q4-lattice per-term quotients, one final integer
    // division for F)
    "q313_anova" -> ((s, dir) =>
      Eval.anovaOneWay(Tables.events(s, dir), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)"))),

    // Kruskal-Wallis H across event types — the k-group RANK test
    // (q313's robust twin): doubled ranks keep tie-averaged ranks
    // integer, ranks come from the value lattice (never a global row
    // sort), exact tie-corrected H* via HUGEINT-replayable divisions
    "q314_kruskal_wallis" -> ((s, dir) =>
      Eval.kruskalWallis(Tables.events(s, dir), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)"))),

    // Friedman test: user cohorts (user_id % 40) as complete blocks,
    // event types as treatments, per-cell revenue ranks WITHIN each
    // block — the repeated-measures member (between-block variation
    // cancels); doubled ranks + exact tie-corrected Q*
    "q316_friedman" -> ((s, dir) =>
      Eval.friedman(Tables.events(s, dir),
        expr("user_id % 40"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)"))),

    // Cochran's Q: binary per-(cohort, event_type) outcome (any
    // cent-value divisible by 3) on complete blocks — the McNemar
    // generalization to k treatments, pure integer end to end
    "q317_cochran_q" -> ((s, dir) =>
      Eval.cochranQ(Tables.events(s, dir),
        expr("user_id % 40"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT) % 3 = 0"))),

    // Brown-Forsythe W across event types — the VARIANCE-homogeneity
    // test of q313's equal-spread assumption (and a dispersion drift
    // detector in its own right): the anova F on |v − group median|,
    // exact via DOUBLED deviations (med2 = the two middle order
    // stats summed, always integer; F is invariant under 2x scaling)
    // with medians from per-GROUP value lattices
    "q321_brown_forsythe" -> ((s, dir) =>
      Eval.brownForsythe(Tables.events(s, dir), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)"))),

    // chrF over the q307/q309 staged candidates — the CHARACTER
    // n-gram F-score (Popović 2015): per-order clipped matches over
    // whitespace-stripped char windows, floored per-order micros,
    // order-averaged P/R, chrF2 as one final integer division
    "q322_chrf" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"),
        col("text").as("ref"),
        expr("""concat_ws(' ', slice(split(trim(text), '\\s+'),
            CAST(doc_id % 4 + 1 AS INT), 1000000))""").as("cand"))
      Eval.chrF(d, "doc_id", col("cand"), col("ref"), maxN = 4)
    }),

    // Page's trend test — the ordered-treatment counterpart of
    // Friedman on the SAME blocks (q328 asks the ordered question
    // for independent groups; this asks it within blocks): a staged
    // +50-cents-per-tier shift inside each (cohort, tier) cell makes
    // the within-block trend real; doubled ranks, exact E[L2],
    // no-tie null variance (documented conservative under ties)
    "q329_page_trend" -> ((s, dir) =>
      Eval.pageTrend(Tables.events(s, dir),
        expr("user_id % 40"), expr("event_id % 4"),
        expr("CAST(round(value * 100) AS BIGINT) + (event_id % 4) * 50"))),

    // Jonckheere-Terpstra ordered trend across user tiers — "do
    // values INCREASE along the ordering" (the dose-response
    // question Kruskal-Wallis cannot ask); a staged +500-cents-per-
    // tier shift makes the trend real, so the gate exercises a
    // strongly positive z, exact doubled-JT core, tie-corrected
    // three-term variance
    "q328_jonckheere" -> ((s, dir) =>
      Eval.jonckheereTerpstra(Tables.events(s, dir),
        expr("user_id % 4"),
        expr("CAST(round(value * 100) AS BIGINT) + (user_id % 4) * 500"))),

    // McNemar's paired test comparing two value-derived classifiers
    // on the SAME events — only the discordant cells matter; the
    // continuity-corrected chi2 is pure integer arithmetic (q223's
    // two-proportion z would wrongly treat the arms as independent)
    "q275_mcnemar" -> ((s, dir) =>
      Eval.mcnemar(Tables.events(s, dir),
        expr("pmod(CAST(round(value * 100) AS BIGINT), 7) < 3"),
        expr("pmod(CAST(round(value * 100) AS BIGINT), 5) < 2"))),

    // fixed-size PPS sample: 20 docs per source, inclusion pressure
    // proportional to token count — sequential Poisson sampling on
    // the portable avalanched hash, sort key an exact integer DIV
    "q277_pps_sample" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      Sampling.ppsSample(d, "source", "doc_id", "n_tokens", n = 20)
    }),

    // exact Shapley-value attribution over the 4 non-purchase channels
    // (16-coalition lattice, micro-quantized conversion rates, all-
    // integer factorial weights) — the coalition-game closer beside
    // last-touch (q147) and Markov removal effect (q210)
    "q282_shapley" -> ((s, dir) =>
      Eval.shapleyAttribution(Tables.events(s, dir),
        col("user_id"), col("event_type"),
        col("event_type") === "purchase")),

    // split-conformal prediction intervals per event type: hash-split
    // train/calib/test, per-type train-mean predictor, q-hat = the
    // exact ceil((n+1)(1-alpha)) calibration order statistic, test
    // coverage counted against it (alpha = 0.1)
    "q283_conformal" -> ((s, dir) =>
      Eval.conformalCalibrate(Tables.events(s, dir),
        col("event_type"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)"))),

    // exact two-sample Wasserstein-1 drift per event type between the
    // even/odd event-id arms — the earth-mover closer of the drift
    // family (PSI q108, KS q111): CDF-difference integral on the
    // cents lattice, one final DIV against the n_a*n_b denominator
    "q284_wasserstein" -> ((s, dir) =>
      Profile.wasserstein1(Tables.events(s, dir), "event_type",
        expr("CAST(round(value * 100) AS BIGINT)"),
        col("event_id") % 2 === 0)),

    // Warner randomized response per event type: 10% portable-hash
    // flips on the value>50 bit, debiased count estimate + its error
    // vs the true count — the local-DP member of the privacy family
    "q286_randomized_response" -> ((s, dir) =>
      graft.core.Privacy.randomizedResponse(Tables.events(s, dir),
        col("event_type"), col("event_id"), col("value") > 50.0,
        flipMicro = 100000L)),

    // l-diversity audit (q251's companion): user x event-type-prefix
    // quasi-identifiers, the value-band as the sensitive attribute;
    // per requested l the classes/rows at risk
    "q287_ldiversity" -> ((s, dir) =>
      graft.core.Privacy.lDiversityReport(Tables.events(s, dir),
        Seq(expr("user_id % 50").as("qi_user"),
          substring(col("event_type"), 1, 1).as("qi_et")),
        expr("CAST(floor(value / 100) AS BIGINT)").as("band"),
        ls = Seq(2, 3, 5))),

    // quantile normalization of per-source doc lengths onto the
    // global length distribution — two two-phase rank passes, exact
    // ceil(r*N/n_s) order-statistic rematch, never interpolated
    "q288_quantile_normalize" -> ((s, dir) =>
      Profile.quantileNormalize(
        Tables.documents(s, dir).select(col("doc_id"), col("source"),
          col("n_chars")),
        "doc_id", "source", "n_chars")),

    // rendezvous (HRW) placement audit: doc keys over 8 vs 9 shards
    // — per-shard populations both topologies + the exact moved-key
    // count (the minimal-movement property modulo placement lacks)
    "q299_rendezvous" -> ((s, dir) =>
      graft.core.Placement.rendezvousAudit(
        Tables.documents(s, dir), col("doc_id"), shards = 8)),

    // largest-remainder (Hamilton) apportionment of a 1M-token budget
    // across sources by their exact token counts — quotas sum to the
    // budget exactly, floors + top-remainder +1s
    "q300_apportion" -> ((s, dir) => {
      val tok = Tables.documents(s, dir).select(col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tok"))
      graft.core.Placement.apportion(tok, col("source"), col("n_tok"),
        budget = 1000000L)
    }),

    // Krippendorff's alpha over per-(user, type) value-band labels:
    // units = users, one rating per event type present — the
    // multi-rater/missing-tolerant agreement gate beside Cohen's
    // kappa (q154)
    "q298_krippendorff" -> ((s, dir) => {
      val ratings = Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(expr("sum(CAST(round(value * 100) AS BIGINT)) DIV count(1)")
          .as("avgc"))
        .select(col("user_id"), expr("avgc DIV 2000").as("band"))
      Eval.krippendorffAlpha(ratings, col("user_id"), col("band"))
    }),

    // functional-dependency discovery over four orders columns: one
    // melted scan, per-pair violation census — key detection and
    // is-this-derivable audits as a relational profile
    "q297_fd_discovery" -> ((s, dir) =>
      Profile.functionalDependencies(Tables.orders(s, dir),
        Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_orderpriority"))),

    // equi-depth histogram of order totals (cents): 8 boundaries at
    // the exact discrete ranks ceil(i·n/8) over the DISTINCT-value
    // lattice (never a corpus sort), bucket masses from cumulative
    // differences — the skew-aware optimizer statistic q239's
    // min/max+NDV card can't express
    "q244_equi_depth_hist" -> ((s, dir) =>
      Profile.equiDepthHistogram(Tables.load(s, dir, "orders"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)"), nBuckets = 8)),

    // Poisson-bootstrap CI for the mean purchase value: every row
    // draws an independent Poisson(1) multiplicity per replicate from
    // an AVALANCHED hash (the raw rolling fold is affine in the
    // replicate suffix — the q159 correlation bug class), replicate
    // means exact on the cents lattice, CI = discrete order stats
    // over the 200 replicate means. The distributed bootstrap: no
    // resample ever materializes
    "q230_bootstrap_ci" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
      Eval.bootstrapCi(ev, col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)"), b = 200)
    }),

    // CUPED variance reduction: pre-period user value (x) as the
    // covariate for the experiment-period metric (y), θ=cov/var from
    // one exact-integer sufficient-stats aggregation, arm means
    // adjusted by the pooled θ — plus ρ² (the variance fraction CUPED
    // removes). Arms from the portable 50/50 user hash split (q223)
    "q231_cuped" -> ((s, dir) => {
      val mid = lit(java.sql.Date.valueOf("2024-01-16"))
      val users = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          sum(when(to_date(col("ts")) < mid,
            expr("CAST(round(value * 100) AS BIGINT)")).otherwise(0L))
            .as("x_cents"),
          sum(when(to_date(col("ts")) >= mid,
            expr("CAST(round(value * 100) AS BIGINT)")).otherwise(0L))
            .as("y_cents"))
      val armed = Sampling.hashSplit(
        users, "user_id", Seq(("a", 0.5), ("b", 0.5)))
      Eval.cuped(armed, col("split"), col("x_cents"), col("y_cents"),
        "a", "b").orderBy("arm")
    }),

    // decile lift table of the quality score against the is-English
    // label (q151's classifier-audit pairing): global two-phase
    // prefix rank (never a single-partition window), exact
    // (rank−1)·10 DIV n deciles, per-decile rate + cumulative lift
    // vs base rate — all BIGINT
    "q232_lift_table" -> ((s, dir) => {
      val scored = TextAnalysis.qualityScore(Tables.documents(s, dir), "text")
      Eval.liftTable(scored, "doc_id",
        expr("CAST(round(quality_score * 1000000) AS BIGINT)"),
        col("lang") === "en", nBuckets = 10)
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q55_source_quota" ->
      """SELECT doc_id, source,
        |  row_number() OVER (PARTITION BY source ORDER BY doc_id) AS src_rank,
        |  row_number() OVER (PARTITION BY source ORDER BY doc_id) <= 15
        |    AS quota_kept
        |FROM documents""".stripMargin,

    "q60_hash_split" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(doc_id || ':42', ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS hv
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN hv % 1000000 < 800000 THEN 'train'
        |       WHEN hv % 1000000 < 900000 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM h""".stripMargin,

    "q63_profile" -> Seq("doc_id", "text", "lang", "source", "n_chars").map { c =>
      s"""SELECT '$c' AS "column", count(*) AS n_rows,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |  round(CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / greatest(count(*), 1), 6) AS null_frac,
         |  count(DISTINCT $c) AS n_distinct,
         |  CAST(min($c) AS VARCHAR) AS min_repr,
         |  CAST(max($c) AS VARCHAR) AS max_repr
         |FROM documents""".stripMargin
    }.mkString("\nUNION ALL\n"),

    // q77: sqrt/division are IEEE-correctly-rounded, so the
    // floor(rate * 2^20) threshold matches Spark bit-for-bit; the
    // hash is the engine's portable polynomial rolling hash (q24/q60
    // recipe).
    "q77_temperature_mix" ->
      """WITH counts AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_source
        |  FROM documents GROUP BY 1),
        |mn AS (SELECT min(n_source) AS n_min FROM counts),
        |rates AS (
        |  SELECT source, n_source,
        |    CAST(floor(sqrt(CAST(n_min AS DOUBLE) / n_source) * 1048576)
        |      AS BIGINT) AS keep_below
        |  FROM counts, mn),
        |h AS (
        |  SELECT doc_id, source,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(doc_id || ':42', ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) % 1048576 AS mix_hash
        |  FROM documents)
        |SELECT h.doc_id, h.source, r.n_source, r.keep_below, h.mix_hash,
        |  h.mix_hash < r.keep_below AS mix_kept
        |FROM h JOIN rates r ON h.source = r.source""".stripMargin,

    // q89: the fixed isolation forest regenerated relationally and
    // walked by a recursive CTE (see IsoForestScorer.fixedOracleSql)
    "q89_isoforest_fixed" -> graft.ml.IsoForestScorer.fixedOracleSql(),

    // PSI per source vs the whole corpus: dense 16-bucket grid,
    // add-one smoothing, identical parenthesization, floored 1e-6
    // terms summed as BIGINT (order-free; ln ulp is the accepted
    // cross-engine surface)
    "q108_psi_drift" ->
      s"""$cToGridCtes
        |terms AS (
        |  SELECT gr.source, gr.gt,
        |    CAST(floor(1000000.0 * (
        |      ((CAST(coalesce(ct.c, 0) + 1 AS DOUBLE)
        |          / CAST(gr.gt + 16 AS DOUBLE))
        |       - (CAST(coalesce(p.pc, 0) + 1 AS DOUBLE)
        |          / CAST(pt.pt + 16 AS DOUBLE)))
        |      * ln((CAST(coalesce(ct.c, 0) + 1 AS DOUBLE)
        |            / CAST(gr.gt + 16 AS DOUBLE))
        |          / (CAST(coalesce(p.pc, 0) + 1 AS DOUBLE)
        |            / CAST(pt.pt + 16 AS DOUBLE)))))
        |      AS BIGINT) AS t
        |  FROM grid gr
        |  LEFT JOIN counts ct ON gr.source = ct.source AND gr.b = ct.b
        |  LEFT JOIN pop p ON gr.b = p.b
        |  CROSS JOIN poptot pt)
        |SELECT source, CAST(sum(t) AS BIGINT) AS psi_micro,
        |  gt AS n_rows
        |FROM terms GROUP BY source, gt""".stripMargin,

    // KS per source vs the whole corpus: dense grid, integer cumsums,
    // one correctly-rounded division per side, order-free max — the
    // only oracle in the drift family with zero ulp surface
    "q111_ks_drift" ->
      s"""$cToGridCtes
        |cums AS (
        |  SELECT gr.source, gr.gt, gr.b,
        |    sum(coalesce(ct.c, 0)) OVER (PARTITION BY gr.source
        |      ORDER BY gr.b ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cg,
        |    sum(coalesce(p.pc, 0)) OVER (PARTITION BY gr.source
        |      ORDER BY gr.b ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cp,
        |    pt.pt
        |  FROM grid gr
        |  LEFT JOIN counts ct ON gr.source = ct.source AND gr.b = ct.b
        |  LEFT JOIN pop p ON gr.b = p.b
        |  CROSS JOIN poptot pt)
        |SELECT source,
        |  CAST(floor(1000000.0 * max(abs(
        |    CAST(cg AS DOUBLE) / CAST(gt AS DOUBLE)
        |    - CAST(cp AS DOUBLE) / CAST(pt AS DOUBLE)))) AS BIGINT)
        |    AS ks_micro,
        |  gt AS n_rows
        |FROM cums GROUP BY source, gt""".stripMargin,

    // q114: refit the top-256 head vocabulary (count desc, token asc)
    // and re-score per source — counts and the DIV rate are exact
    // integers, no float surface
    "q114_oov_drift" ->
      """WITH toks AS (
        |  SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents),
        |vocab AS (
        |  SELECT tok FROM (
        |    SELECT tok, count(*) AS c FROM toks GROUP BY 1)
        |  ORDER BY c DESC, tok ASC LIMIT 256)
        |SELECT t.source,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(count(CASE WHEN v.tok IS NULL THEN 1 END) AS BIGINT) AS n_oov,
        |  CAST(count(CASE WHEN v.tok IS NULL THEN 1 END) AS BIGINT)
        |    * 1000000 // CAST(count(*) AS BIGINT) AS oov_micro
        |FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
        |GROUP BY 1""".stripMargin,

    // q148: one UNION ALL branch per column, same deterministic
    // (count DESC, value ASC) top pick
    "q148_column_profile" -> {
      val branch = (c: String) =>
        s"""SELECT '$c' AS "column",
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(CASE WHEN CAST($c AS VARCHAR) IS NULL
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT CAST($c AS VARCHAR)) AS BIGINT)
           |    AS n_distinct,
           |  (SELECT v FROM (
           |     SELECT CAST($c AS VARCHAR) AS v, count(*) AS cnt
           |     FROM documents WHERE $c IS NOT NULL GROUP BY 1
           |     ORDER BY cnt DESC, v ASC LIMIT 1)) AS top_value,
           |  (SELECT cnt FROM (
           |     SELECT CAST($c AS VARCHAR) AS v, count(*) AS cnt
           |     FROM documents WHERE $c IS NOT NULL GROUP BY 1
           |     ORDER BY cnt DESC, v ASC LIMIT 1)) AS top_count
           |FROM documents""".stripMargin
      Seq("lang", "source", "n_chars").map(branch)
        .mkString("\nUNION ALL\n")
    },

    // q151: the q91 quality-score replay (bit-identical rounded
    // doubles) micro-latticed, then the identical tied-pair AUC
    // arithmetic — every sum BIGINT, one positive integer division
    "q151_roc_auc" ->
      s"""$baseScCtes
        |g AS (
        |  SELECT s,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS nn
        |  FROM sc GROUP BY 1),
        |c AS (
        |  SELECT np, nn,
        |    COALESCE(sum(nn) OVER (ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_nn
        |  FROM g),
        |t AS (
        |  SELECT CAST(sum(np) AS BIGINT) AS n_pos,
        |    CAST(sum(nn) AS BIGINT) AS n_neg,
        |    CAST(sum(2 * np * cum_nn + np * nn) AS BIGINT) AS num2
        |  FROM c)
        |SELECT n_pos, n_neg,
        |  CAST(num2 * 1000000 // (2 * n_pos * n_neg) AS BIGINT) AS auc_micro
        |FROM t""".stripMargin,

    // q152: the q23 language-ID replay joined to gold, then the same
    // sparse confusion cells + per-gold window share
    "q152_langid_confusion" ->
      s"""WITH pred AS ($LangIdPredSql)
        |, cells AS (
        |  SELECT gold, pred, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM pred GROUP BY 1, 2),
        |tot AS (
        |  SELECT gold, pred, n_docs,
        |    CAST(sum(n_docs) OVER (PARTITION BY gold) AS BIGINT) AS gold_total
        |  FROM cells)
        |SELECT gold, pred, n_docs, gold_total,
        |  CAST(n_docs * 1000000 // gold_total AS BIGINT) AS share_micro
        |FROM tot""".stripMargin,

    // q153: same micro lattice, same right-closed bin fold, exact
    // positive rates
    "q153_calibration_bins" ->
      s"""$baseScCtes
        |b AS (
        |  SELECT CAST(greatest(least((s - 480000) // 10000, 9), 0) AS BIGINT) AS bin,
        |    y, s
        |  FROM sc)
        |SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) * 1000000 // count(*)
        |    AS BIGINT) AS pos_rate_micro,
        |  CAST(sum(s) AS BIGINT) AS sum_score_micro
        |FROM b GROUP BY 1""".stripMargin,

    // q154: the q23 replay through the exact integer kappa identity
    // (n*agree - chance) / (n^2 - chance); positive operands on this
    // binding (agreement far above chance), so DIV == // exactly
    "q154_cohen_kappa" ->
      s"""WITH pred AS ($LangIdPredSql)
        |, cells AS (
        |  SELECT gold, pred, CAST(count(*) AS BIGINT) AS c
        |  FROM pred GROUP BY 1, 2),
        |rt AS (SELECT gold, CAST(sum(c) AS BIGINT) AS row_c
        |       FROM cells GROUP BY 1),
        |ct AS (SELECT pred, CAST(sum(c) AS BIGINT) AS col_c
        |       FROM cells GROUP BY 1),
        |ch AS (
        |  SELECT CAST(sum(rt.row_c * ct.col_c) AS BIGINT) AS chance_pairs
        |  FROM rt JOIN ct ON rt.gold = ct.pred),
        |ag AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN gold = pred THEN c ELSE 0 END) AS BIGINT)
        |      AS n_agree
        |  FROM cells)
        |SELECT n_docs, n_agree, chance_pairs,
        |  CAST((n_docs * n_agree - chance_pairs) * 1000000
        |    // (n_docs * n_docs - chance_pairs) AS BIGINT) AS kappa_micro
        |FROM ag CROSS JOIN ch""".stripMargin,

    // q160: the q60/q24 portable-hash replay (ascii fold mod 1e9+7,
    // seed-prefixed) through the identical two-round x²+1 avalanche,
    // same per-group (hash, id) rank
    "q160_group_sample" ->
      """WITH h0 AS (
        |  SELECT source, doc_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(
        |          regexp_split_to_array('42:' || CAST(doc_id AS VARCHAR), ''),
        |          c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM documents),
        |h1 AS (
        |  SELECT source, doc_id,
        |    (h * h + 1) % 1000000007 AS h1
        |  FROM h0),
        |h AS (
        |  SELECT source, doc_id,
        |    CAST((h1 * h1 + 1) % 1000000007 AS BIGINT) AS hash
        |  FROM h1),
        |r AS (
        |  SELECT source, doc_id, hash,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY hash, doc_id) AS BIGINT) AS smp_rank
        |  FROM h)
        |SELECT source, doc_id, hash, smp_rank FROM r
        |WHERE smp_rank <= 5""".stripMargin,

    // q222: dense digit spine, exact micro shares, the same micro
    // literals for the Benford expectation
    "q222_benford" ->
      """WITH obs AS (
        |  SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |      AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |    CAST(count(*) AS BIGINT) AS n_obs
        |  FROM orders WHERE o_totalprice >= 1.0 GROUP BY 1),
        |spine AS (
        |  SELECT * FROM (VALUES
        |    (CAST(1 AS BIGINT), CAST(301030 AS BIGINT)), (2, 176091),
        |    (3, 124939), (4, 96910), (5, 79181), (6, 66947),
        |    (7, 57992), (8, 51153), (9, 45757)) AS t(digit, benford_micro)),
        |total AS (SELECT sum(n_obs) AS n FROM obs)
        |SELECT s.digit, coalesce(o.n_obs, 0) AS n_obs,
        |  CAST(coalesce(o.n_obs, 0) * 1000000 // t.n AS BIGINT)
        |    AS share_micro,
        |  s.benford_micro,
        |  CAST(abs(coalesce(o.n_obs, 0) * 1000000 // t.n - s.benford_micro)
        |    AS BIGINT) AS dev_micro
        |FROM spine s LEFT JOIN obs o ON s.digit = o.digit
        |CROSS JOIN total t""".stripMargin,

    // q223: the q60 hash-split replay feeding four exact counts; z is
    // the identical float expression tree (each op correctly rounded)
    "q223_ab_ztest" ->
      """WITH u AS (
        |  SELECT user_id,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      >= 5 AS y
        |  FROM events GROUP BY 1),
        |h AS (
        |  SELECT y,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(
        |        CAST(user_id AS VARCHAR) || ':42', ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS hv
        |  FROM u),
        |arms AS (
        |  SELECT CASE WHEN hv % 1000000 < 500000 THEN 'a' ELSE 'b' END
        |    AS arm, y FROM h),
        |agg AS (
        |  SELECT
        |    CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN arm = 'a' AND y THEN 1 ELSE 0 END) AS BIGINT) AS x_a,
        |    CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN arm = 'b' AND y THEN 1 ELSE 0 END) AS BIGINT) AS x_b
        |  FROM arms),
        |zed AS (
        |  SELECT n_a, x_a, n_b, x_b,
        |    CASE WHEN n_a > 0 AND n_b > 0
        |        AND x_a + x_b > 0 AND x_a + x_b < n_a + n_b
        |      THEN round(
        |        (CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |         - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |        / sqrt((CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
        |          * (1.0 - CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
        |          * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6)
        |      END AS z
        |  FROM agg)
        |SELECT n_a, x_a, n_b, x_b, z,
        |  coalesce(abs(z) > 1.959964, FALSE) AS significant
        |FROM zed""".stripMargin,

    // q249: q151's lattice AUC, source-partitioned
    "q249_group_auc" ->
      s"""WITH base AS (
        |  SELECT source, lang, text,
        |    regexp_split_to_array(trim(text), '\\s+') AS t
        |  FROM documents),
        |sc AS (
        |  SELECT source, (lang = 'en') AS y,
        |    CAST(round($QualityScoreSql * 1000000) AS BIGINT) AS s
        |  FROM base),
        |g AS (
        |  SELECT source, s,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS nn
        |  FROM sc GROUP BY 1, 2),
        |c AS (
        |  SELECT source, np, nn,
        |    COALESCE(sum(nn) OVER (PARTITION BY source ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_nn
        |  FROM g),
        |t AS (
        |  SELECT source, CAST(sum(np) AS BIGINT) AS n_pos,
        |    CAST(sum(nn) AS BIGINT) AS n_neg,
        |    CAST(sum(2 * np * cum_nn + np * nn) AS BIGINT) AS num2
        |  FROM c GROUP BY 1)
        |SELECT source, n_pos, n_neg,
        |  CAST(CASE WHEN n_pos > 0 AND n_neg > 0
        |    THEN num2 * 1000000 // (2 * n_pos * n_neg) END AS BIGINT)
        |    AS auc_micro
        |FROM t""".stripMargin,

    // q251: one grouped count over the QI key, spine x class algebra
    "q251_kanonymity" ->
      """WITH cls AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
        |    CAST(count(*) AS BIGINT) AS class_size
        |  FROM customer GROUP BY 1, 2, 3),
        |t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_classes,
        |    CAST(sum(class_size) AS BIGINT) AS n_rows,
        |    CAST(min(class_size) AS BIGINT) AS min_class_size FROM cls),
        |ks AS (SELECT * FROM (VALUES (CAST(2 AS BIGINT)), (5), (10), (20))
        |  AS v(k)),
        |per AS (
        |  SELECT k.k,
        |    CAST(sum(CASE WHEN c.class_size < k.k THEN 1 ELSE 0 END)
        |      AS BIGINT) AS classes_below,
        |    CAST(sum(CASE WHEN c.class_size < k.k THEN c.class_size
        |      ELSE 0 END) AS BIGINT) AS rows_at_risk
        |  FROM ks k CROSS JOIN cls c GROUP BY 1)
        |SELECT p.k, t.n_classes, t.n_rows, t.min_class_size,
        |  p.classes_below, p.rows_at_risk,
        |  CAST(p.rows_at_risk * 1000000 // t.n_rows AS BIGINT)
        |    AS risk_share_micro,
        |  (t.min_class_size >= p.k) AS satisfies_k
        |FROM per p CROSS JOIN t""".stripMargin,

    // q257: identical sufficient-stat collapse, micro contributions,
    // and the one fixed F expression
    "q257_anova" ->
      """WITH g AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(vc) AS BIGINT) AS s,
        |    CAST(sum(vc * vc) AS BIGINT) AS q
        |  FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS vc
        |        FROM events)
        |  GROUP BY 1),
        |c AS (
        |  SELECT n, s, q,
        |    CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * 10000.0) * 1000000.0) AS BIGINT)
        |      AS contrib
        |  FROM g),
        |t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |    CAST(sum(n) AS BIGINT) AS n_rows,
        |    CAST(sum(s) AS BIGINT) AS st, CAST(sum(q) AS BIGINT) AS qt,
        |    CAST(sum(contrib) AS BIGINT) AS cm
        |  FROM c),
        |f AS (
        |  SELECT n_groups, n_rows,
        |    cm - CAST(round(CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
        |      / (CAST(n_rows AS DOUBLE) * 10000.0) * 1000000.0) AS BIGINT)
        |      AS ssb_micro,
        |    qt * 100 - cm AS ssw_micro
        |  FROM t)
        |SELECT n_groups, n_rows, ssb_micro, ssw_micro,
        |  CASE WHEN n_groups > 1 AND n_rows > n_groups AND ssw_micro > 0
        |    THEN round((CAST(ssb_micro AS DOUBLE) / (n_groups - 1))
        |      / (CAST(ssw_micro AS DOUBLE) / (n_rows - n_groups)), 6) END
        |    AS f_value
        |FROM f""".stripMargin,

    // q259: the same four-cell sufficient stats and the same two
    // fixed float trees
    "q259_did" ->
      """WITH e AS (
        |  SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t,
        |    CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
        |      THEN 1 ELSE 0 END AS p,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT t, p, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v) AS BIGINT) AS s, CAST(sum(v * v) AS BIGINT) AS q
        |  FROM e GROUP BY 1, 2),
        |w AS (
        |  SELECT
        |    CAST(sum(CASE WHEN t = 0 AND p = 0 THEN n END) AS BIGINT) AS n_c0,
        |    CAST(sum(CASE WHEN t = 0 AND p = 0 THEN s END) AS BIGINT) AS s_c0,
        |    CAST(sum(CASE WHEN t = 0 AND p = 0 THEN q END) AS BIGINT) AS q_c0,
        |    CAST(sum(CASE WHEN t = 0 AND p = 1 THEN n END) AS BIGINT) AS n_c1,
        |    CAST(sum(CASE WHEN t = 0 AND p = 1 THEN s END) AS BIGINT) AS s_c1,
        |    CAST(sum(CASE WHEN t = 0 AND p = 1 THEN q END) AS BIGINT) AS q_c1,
        |    CAST(sum(CASE WHEN t = 1 AND p = 0 THEN n END) AS BIGINT) AS n_t0,
        |    CAST(sum(CASE WHEN t = 1 AND p = 0 THEN s END) AS BIGINT) AS s_t0,
        |    CAST(sum(CASE WHEN t = 1 AND p = 0 THEN q END) AS BIGINT) AS q_t0,
        |    CAST(sum(CASE WHEN t = 1 AND p = 1 THEN n END) AS BIGINT) AS n_t1,
        |    CAST(sum(CASE WHEN t = 1 AND p = 1 THEN s END) AS BIGINT) AS s_t1,
        |    CAST(sum(CASE WHEN t = 1 AND p = 1 THEN q END) AS BIGINT) AS q_t1
        |  FROM c)
        |SELECT n_c0, s_c0, n_c1, s_c1, n_t0, s_t0, n_t1, s_t1,
        |  CASE WHEN n_c0 > 0 AND n_c1 > 0 AND n_t0 > 0 AND n_t1 > 0
        |  THEN CAST(round(
        |    (CAST(s_t1 AS DOUBLE) / n_t1 - CAST(s_t0 AS DOUBLE) / n_t0
        |   - CAST(s_c1 AS DOUBLE) / n_c1 + CAST(s_c0 AS DOUBLE) / n_c0)
        |    * 10000.0) AS BIGINT) END AS did_micro,
        |  CASE WHEN n_c0 > 1 AND n_c1 > 1 AND n_t0 > 1 AND n_t1 > 1
        |  THEN CAST(round(sqrt(
        |    (CAST(q_t1 AS DOUBLE) - CAST(s_t1 AS DOUBLE) * s_t1 / n_t1)
        |      / (n_t1 - 1) / n_t1
        |  + (CAST(q_t0 AS DOUBLE) - CAST(s_t0 AS DOUBLE) * s_t0 / n_t0)
        |      / (n_t0 - 1) / n_t0
        |  + (CAST(q_c1 AS DOUBLE) - CAST(s_c1 AS DOUBLE) * s_c1 / n_c1)
        |      / (n_c1 - 1) / n_c1
        |  + (CAST(q_c0 AS DOUBLE) - CAST(s_c0 AS DOUBLE) * s_c0 / n_c0)
        |      / (n_c0 - 1) / n_c0)
        |    * 10000.0) AS BIGINT) END AS se_micro
        |FROM w""".stripMargin,

    // q260: the same BIGINT grid and the same per-cell fixed float
    // expression (isodow - 1 == Spark's weekday, Mon=0)
    "q260_mutual_info" ->
      """WITH g AS (
        |  SELECT event_type AS x, isodow(CAST(ts AS DATE)) - 1 AS y,
        |    CAST(count(*) AS BIGINT) AS nxy
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT nxy,
        |    CAST(sum(nxy) OVER (PARTITION BY x) AS BIGINT) AS nx,
        |    CAST(sum(nxy) OVER (PARTITION BY y) AS BIGINT) AS ny,
        |    CAST(sum(nxy) OVER () AS BIGINT) AS nn
        |  FROM g),
        |m AS (
        |  SELECT nn,
        |    CAST(round(CAST(nxy AS DOUBLE) / nn
        |      * ln(CAST(nxy AS DOUBLE) * nn
        |           / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)))
        |      * 1000000.0) AS BIGINT) AS contrib
        |  FROM c)
        |SELECT CAST(max(nn) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_cells,
        |  CAST(sum(contrib) AS BIGINT) AS mi_micro
        |FROM m""".stripMargin,

    // q263: grid completed to the full cross product (zero cells
    // contribute E), per-cell contribution micro-rounded, V one float
    // tree over the exact sums
    "q263_chi2" ->
      """WITH g AS (
        |  SELECT event_type AS x, isodow(CAST(ts AS DATE)) - 1 AS y,
        |    CAST(count(*) AS BIGINT) AS nxy
        |  FROM events GROUP BY 1, 2),
        |xs AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx FROM g GROUP BY 1),
        |ys AS (SELECT y, CAST(sum(nxy) AS BIGINT) AS ny FROM g GROUP BY 1),
        |t AS (SELECT CAST(sum(nxy) AS BIGINT) AS nn,
        |  CAST(count(DISTINCT x) AS BIGINT) AS kx,
        |  CAST(count(DISTINCT y) AS BIGINT) AS ky FROM g),
        |fullg AS (
        |  SELECT xs.x, ys.y, nx, ny, coalesce(g.nxy, 0) AS nxy, nn, kx, ky
        |  FROM xs CROSS JOIN ys
        |  LEFT JOIN g ON g.x = xs.x AND g.y = ys.y
        |  CROSS JOIN t),
        |c AS (SELECT nn, kx, ky,
        |  CAST(round(
        |    (CAST(nxy AS DOUBLE) - CAST(nx AS DOUBLE) * ny / nn)
        |    * (CAST(nxy AS DOUBLE) - CAST(nx AS DOUBLE) * ny / nn)
        |    / (CAST(nx AS DOUBLE) * ny / nn) * 1000000.0) AS BIGINT)
        |    AS contrib
        |  FROM fullg)
        |SELECT max(nn) AS n_rows, max(kx) AS k_x, max(ky) AS k_y,
        |  (max(kx) - 1) * (max(ky) - 1) AS dof,
        |  CASE WHEN (max(kx) - 1) * (max(ky) - 1) > 0
        |    THEN CAST(sum(contrib) AS BIGINT) END AS chi2_micro,
        |  CASE WHEN (max(kx) - 1) * (max(ky) - 1) > 0 THEN
        |    round(sqrt(CAST(CAST(sum(contrib) AS BIGINT) AS DOUBLE)
        |      / 1000000.0
        |      / (CAST(max(nn) AS DOUBLE) * least(max(kx) - 1, max(ky) - 1))),
        |      6) END AS cramers_v
        |FROM c""".stripMargin,

    // q265: the four SPRT constants are computed by the SAME JVM
    // expressions Eval.sprt uses, inlined as integer literals; the
    // running LLR and every crossing decision are integer arithmetic
    "q265_sprt" -> {
      val incS = math.round(math.log(0.55 / 0.45) * 1e6)
      val incF = math.round(math.log(0.45 / 0.55) * 1e6)
      val lo = math.round(math.log(0.05 / 0.95) * 1e6)
      val hi = math.round(math.log(0.95 / 0.05) * 1e6)
      s"""WITH obs AS (
         |  SELECT event_type AS k, (value >= 32.0) AS s, ts, event_id
         |  FROM events),
         |walked AS (
         |  SELECT k, s,
         |    sum(CASE WHEN s THEN $incS ELSE $incF END)
         |      OVER (PARTITION BY k ORDER BY ts, event_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS llr,
         |    row_number() OVER (PARTITION BY k ORDER BY ts, event_id)
         |      AS rn
         |  FROM obs),
         |v AS (SELECT k, s, rn,
         |    CASE WHEN llr <= $lo THEN 'h0'
         |         WHEN llr >= $hi THEN 'h1' END AS verdict
         |  FROM walked)
         |SELECT k AS key, CAST(count(*) AS BIGINT) AS n_obs,
         |  CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS n_success,
         |  coalesce(arg_min(verdict, rn) FILTER (WHERE verdict IS NOT NULL),
         |    'continue') AS decision,
         |  CAST(min(rn) FILTER (WHERE verdict IS NOT NULL) AS BIGINT)
         |    AS n_at_decision,
         |  CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) * $incS
         |    + (count(*) - sum(CASE WHEN s THEN 1 ELSE 0 END)) * $incF
         |    AS BIGINT) AS llr_final_micro
         |FROM v GROUP BY 1""".stripMargin
    },

    // q266: same lattice, same doubled midranks (integers end to end),
    // z replayed as the identical float tree over the exact sums
    "q266_mann_whitney" ->
      """WITH r AS (
        |  SELECT event_type AS k,
        |    CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS a,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events),
        |lat AS (
        |  SELECT k, v,
        |    CAST(sum(CASE WHEN a = 'even' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c_a,
        |    CAST(sum(CASE WHEN a = 'odd' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c_b
        |  FROM r GROUP BY 1, 2),
        |w AS (
        |  SELECT k, c_a, c_b, c_a + c_b AS t,
        |    coalesce(CAST(sum(c_a + c_b) OVER (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS cum_below
        |  FROM lat),
        |agg AS (
        |  SELECT k AS key,
        |    CAST(sum(c_a) AS BIGINT) AS n_a,
        |    CAST(sum(c_b) AS BIGINT) AS n_b,
        |    sum(CAST(c_a AS DECIMAL(38,0)) * (2 * cum_below + t + 1))
        |      AS r2sum_a,
        |    sum(CAST(t AS DECIMAL(38,0)) * t * t - t) AS tie3
        |  FROM w GROUP BY 1),
        |u AS (
        |  SELECT key, n_a, n_b, tie3,
        |    CAST(r2sum_a - CAST(n_a AS DECIMAL(38,0)) * (n_a + 1)
        |      AS BIGINT) AS u2_a
        |  FROM agg)
        |SELECT key, n_a, n_b, u2_a,
        |  CASE WHEN n_a > 0 AND n_b > 0
        |    AND tie3 < CAST(n_a + n_b AS DECIMAL(38,0)) * (n_a + n_b)
        |        * (n_a + n_b) - (n_a + n_b)
        |  THEN round(
        |    (CAST(u2_a AS DOUBLE) - CAST(n_a AS DOUBLE) * n_b)
        |    / (2.0 * sqrt(CAST(n_a AS DOUBLE) * n_b / 12.0
        |        * (CAST(n_a + n_b AS DOUBLE) + 1.0
        |           - CAST(tie3 AS DOUBLE)
        |             / (CAST(n_a + n_b AS DOUBLE)
        |                * (CAST(n_a + n_b AS DOUBLE) - 1.0))))), 6)
        |  END AS z
        |FROM u""".stripMargin,

    // q267: the q208 observation table split by user parity; at-risk
    // via the same suffix-sum identity, per-death-time contributions
    // micro-rounded before the order-free sum, chi2 one float tree
    "q267_log_rank" ->
      """WITH ev AS (
        |  SELECT user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS fe, event_id
        |  FROM events),
        |mx AS (SELECT max(fe) AS max_fe FROM ev),
        |obs AS (
        |  SELECT event_type AS k,
        |    CASE WHEN nxt IS NOT NULL THEN nxt - fe
        |         ELSE max_fe - fe END AS d,
        |    (nxt IS NOT NULL) AS ev_flag,
        |    (user_id % 2 = 0) AS t1
        |  FROM (SELECT user_id, event_type, fe, event_id,
        |          lead(fe) OVER (PARTITION BY user_id, event_type
        |                         ORDER BY fe, event_id) AS nxt
        |        FROM ev), mx),
        |lat AS (
        |  SELECT k, d,
        |    CAST(sum(CASE WHEN t1 THEN 1 ELSE 0 END) AS BIGINT) AS e1,
        |    CAST(sum(CASE WHEN NOT t1 THEN 1 ELSE 0 END) AS BIGINT) AS e2,
        |    CAST(sum(CASE WHEN t1 AND ev_flag THEN 1 ELSE 0 END)
        |      AS BIGINT) AS o1,
        |    CAST(sum(CASE WHEN (NOT t1) AND ev_flag THEN 1 ELSE 0 END)
        |      AS BIGINT) AS o2
        |  FROM obs GROUP BY 1, 2),
        |risk AS (
        |  SELECT k, d, e1, e2, o1, o2,
        |    CAST(sum(e1) OVER (PARTITION BY k)
        |      - sum(e1) OVER (PARTITION BY k ORDER BY d
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      + e1 AS BIGINT) AS r1,
        |    CAST(sum(e2) OVER (PARTITION BY k)
        |      - sum(e2) OVER (PARTITION BY k ORDER BY d
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      + e2 AS BIGINT) AS r2
        |  FROM lat),
        |contrib AS (
        |  SELECT k,
        |    CAST(round((CAST(o1 AS DOUBLE)
        |      - CAST(o1 + o2 AS DOUBLE) * r1 / (r1 + r2)) * 1000000.0)
        |      AS BIGINT) AS oe_micro,
        |    CASE WHEN r1 + r2 > 1 THEN
        |      CAST(round(CAST(o1 + o2 AS DOUBLE)
        |        * (CAST(r1 AS DOUBLE) / (r1 + r2))
        |        * (CAST(r2 AS DOUBLE) / (r1 + r2))
        |        * (CAST(r1 + r2 - o1 - o2 AS DOUBLE) / (r1 + r2 - 1))
        |        * 1000000.0) AS BIGINT)
        |    ELSE 0 END AS var_micro
        |  FROM risk WHERE o1 + o2 > 0),
        |census AS (
        |  SELECT k, CAST(sum(e1) AS BIGINT) AS n_a,
        |    CAST(sum(e2) AS BIGINT) AS n_b,
        |    CAST(sum(o1) AS BIGINT) AS deaths_a,
        |    CAST(sum(o2) AS BIGINT) AS deaths_b
        |  FROM lat GROUP BY 1),
        |sums AS (
        |  SELECT k, CAST(sum(oe_micro) AS BIGINT) AS oe_sum_micro,
        |    CAST(sum(var_micro) AS BIGINT) AS var_sum_micro
        |  FROM contrib GROUP BY 1)
        |SELECT c.k AS key, n_a, n_b, deaths_a, deaths_b,
        |  coalesce(oe_sum_micro, 0) AS oe_sum_micro,
        |  coalesce(var_sum_micro, 0) AS var_sum_micro,
        |  CASE WHEN coalesce(var_sum_micro, 0) > 0 THEN
        |    round(CAST(coalesce(oe_sum_micro, 0) AS DOUBLE)
        |      * coalesce(oe_sum_micro, 0) / 1000000.0
        |      / coalesce(var_sum_micro, 0), 6) END AS chi2
        |FROM census c LEFT JOIN sums s ON c.k = s.k""".stripMargin,

    // q268: joint lattice + two marginal midrank lattices, Pearson on
    // doubled ranks from DECIMAL sums, rho the identical float tree
    "q268_spearman" ->
      """WITH r AS (
        |  SELECT event_type AS g,
        |    CAST(round(value * 100) AS BIGINT) AS x,
        |    CAST(extract(hour FROM ts) AS BIGINT) AS y
        |  FROM events),
        |joint AS (
        |  SELECT g, x, y, CAST(count(*) AS BIGINT) AS cnt
        |  FROM r GROUP BY 1, 2, 3),
        |mx AS (
        |  SELECT g, x,
        |    2 * coalesce(CAST(sum(t) OVER (PARTITION BY g ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) + t + 1 AS r2x
        |  FROM (SELECT g, x, CAST(sum(cnt) AS BIGINT) AS t
        |        FROM joint GROUP BY 1, 2)),
        |my AS (
        |  SELECT g, y,
        |    2 * coalesce(CAST(sum(t) OVER (PARTITION BY g ORDER BY y
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) + t + 1 AS r2y
        |  FROM (SELECT g, y, CAST(sum(cnt) AS BIGINT) AS t
        |        FROM joint GROUP BY 1, 2)),
        |agg AS (
        |  SELECT j.g AS grp, CAST(sum(cnt) AS BIGINT) AS n_rows,
        |    sum(CAST(cnt AS DECIMAL(38,0)) * r2x) AS sx,
        |    sum(CAST(cnt AS DECIMAL(38,0)) * r2y) AS sy,
        |    sum(CAST(cnt AS DECIMAL(38,0)) * r2x * r2y) AS sxy,
        |    sum(CAST(cnt AS DECIMAL(38,0)) * r2x * r2x) AS sxx,
        |    sum(CAST(cnt AS DECIMAL(38,0)) * r2y * r2y) AS syy
        |  FROM joint j
        |  JOIN mx ON j.g = mx.g AND j.x = mx.x
        |  JOIN my ON j.g = my.g AND j.y = my.y
        |  GROUP BY 1)
        |SELECT grp, n_rows,
        |  CASE WHEN n_rows > 1
        |    AND n_rows * sxx - sx * sx > 0
        |    AND n_rows * syy - sy * sy > 0
        |  THEN round(
        |    CAST(n_rows * sxy - sx * sy AS DOUBLE)
        |    / sqrt(CAST(n_rows * sxx - sx * sx AS DOUBLE)
        |           * CAST(n_rows * syy - sy * sy AS DOUBLE)), 6)
        |  END AS rho
        |FROM agg""".stripMargin,

    // q269: the q230 hash-chain replay (fold + two avalanche rounds)
    // drives the sign flips; p-values and every BH comparison are
    // exact integer arithmetic — no float anywhere in the oracle
    "q269_perm_fdr" ->
      """WITH units AS (
        |  SELECT event_type AS k, CAST(user_id AS VARCHAR) AS u,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v,
        |    bool_or(user_id % 2 = 0) AS t1
        |  FROM events GROUP BY 1, 2),
        |obs AS (
        |  SELECT k, CAST(count(*) AS BIGINT) AS n_units,
        |    CAST(abs(sum(CASE WHEN t1 THEN v ELSE -v END)) AS BIGINT)
        |      AS obs
        |  FROM units GROUP BY 1),
        |ex AS (
        |  SELECT k, u, v, unnest(generate_series(0, 198)) AS r
        |  FROM units),
        |h0 AS (
        |  SELECT k, v, r, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(
        |        k || ':' || u || ':' || CAST(r AS VARCHAR) || ':42', ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM ex),
        |h1 AS (SELECT k, v, r,
        |  (xor(h, h // 65536) * 73244475) % 4294967296 AS h FROM h0),
        |h2 AS (SELECT k, v, r,
        |  (xor(h, h // 65536) * 73244475) % 4294967296 AS h FROM h1),
        |sg AS (SELECT k, v, r, xor(h, h // 65536) % 2 AS sgn FROM h2),
        |reps AS (
        |  SELECT k, r,
        |    CAST(abs(sum(CASE WHEN sgn = 1 THEN v ELSE -v END))
        |      AS BIGINT) AS stat
        |  FROM sg GROUP BY 1, 2),
        |pvals AS (
        |  SELECT reps.k, n_units, obs,
        |    CAST(sum(CASE WHEN stat >= obs THEN 1 ELSE 0 END) + 1
        |      AS BIGINT) AS p_num
        |  FROM reps JOIN obs ON reps.k = obs.k
        |  GROUP BY 1, 2, 3),
        |bh AS (
        |  SELECT k, n_units, obs, p_num,
        |    CAST(count(*) OVER () AS BIGINT) AS m,
        |    CAST(row_number() OVER (ORDER BY p_num, k) AS BIGINT)
        |      AS bh_rank
        |  FROM pvals),
        |rej AS (
        |  SELECT k, n_units, obs, p_num, bh_rank,
        |    max(CASE WHEN p_num * m <= bh_rank * 10
        |        THEN bh_rank ELSE 0 END) OVER () AS max_rej
        |  FROM bh)
        |SELECT k AS key, n_units, obs AS obs_cents, p_num,
        |  CAST(200 AS BIGINT) AS p_den, bh_rank,
        |  (bh_rank <= max_rej) AS rejected
        |FROM rej""".stripMargin,

    // q271: the full train→score→argmax loop replayed — counts,
    // micro-floored model log-probs, integer score sums, the same
    // (score desc, label asc) argmax
    "q271_naive_bayes" ->
      """WITH ttok AS (
        |  SELECT source AS label,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents WHERE doc_id % 2 = 0),
        |counts AS (
        |  SELECT label, term, CAST(count(*) AS BIGINT) AS c
        |  FROM ttok WHERE length(term) > 0 GROUP BY 1, 2),
        |totals AS (
        |  SELECT label, CAST(sum(c) AS BIGINT) AS t_l
        |  FROM counts GROUP BY 1),
        |vocab AS (
        |  SELECT CAST(count(DISTINCT term) AS BIGINT) AS v FROM counts),
        |ndocs AS (
        |  SELECT source AS label, CAST(count(*) AS BIGINT) AS n_l
        |  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
        |ntot AS (SELECT CAST(sum(n_l) AS BIGINT) AS n FROM ndocs),
        |tlp AS (
        |  SELECT label, term,
        |    CAST(floor(ln((CAST(c AS DOUBLE) + 1.0)
        |      / (CAST(t_l AS DOUBLE) + v)) * 1000000.0) AS BIGINT) AS lp
        |  FROM counts JOIN totals USING (label) CROSS JOIN vocab),
        |labels AS (
        |  SELECT d.label,
        |    CAST(floor(ln(CAST(n_l AS DOUBLE) / n) * 1000000.0)
        |      AS BIGINT) AS prior,
        |    CAST(floor(ln(1.0 / (CAST(t_l AS DOUBLE) + v)) * 1000000.0)
        |      AS BIGINT) AS dflt
        |  FROM ndocs d JOIN totals USING (label)
        |  CROSS JOIN vocab CROSS JOIN ntot),
        |tf AS (
        |  SELECT id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id AS id,
        |          unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |        FROM documents WHERE doc_id % 2 = 1)
        |  WHERE length(term) > 0 GROUP BY 1, 2),
        |ll AS (
        |  SELECT tf.id, lb.label,
        |    CAST(sum(tf.tf * coalesce(t.lp, lb.dflt)) AS BIGINT)
        |      + max(lb.prior) AS score
        |  FROM tf CROSS JOIN labels lb
        |  LEFT JOIN tlp t ON t.label = lb.label AND t.term = tf.term
        |  GROUP BY 1, 2),
        |best AS (
        |  SELECT id, label, score, row_number() OVER (PARTITION BY id
        |    ORDER BY score DESC, label ASC) AS rn
        |  FROM ll)
        |SELECT id AS doc_id, label AS predicted,
        |  CAST(score AS BIGINT) AS score_micro
        |FROM best WHERE rn = 1""".stripMargin,

    // q272: same bins, same prefix sums, the same minimax triple
    // expansion — every block average an exact integer //. The label
    // mod is pmod-equivalent ((x%7+7)%7) to match Spark's pmod even
    // if values ever go negative (DuckDB % keeps the dividend's sign)
    "q272_isotonic" ->
      """WITH r AS (
        |  SELECT CAST(round(value * 2000) AS BIGINT) AS s,
        |    (((CAST(round(value * 100) AS BIGINT) % 7) + 7) % 7) < 3 AS y
        |  FROM events),
        |cells AS (
        |  SELECT greatest(least(s // 20000, 49), 0) AS bin,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
        |  FROM r GROUP BY 1),
        |pref AS (
        |  SELECT bin, n_docs, n_pos,
        |    CAST(row_number() OVER (ORDER BY bin) AS BIGINT) AS i,
        |    CAST(sum(n_docs) OVER (ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cn,
        |    CAST(sum(n_pos) OVER (ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cp
        |  FROM cells),
        |jk AS (
        |  SELECT a.i AS j, b.i AS k,
        |    CAST((b.cp - (a.cp - a.n_pos)) * 1000000
        |      // (b.cn - (a.cn - a.n_docs)) AS BIGINT) AS avg_micro
        |  FROM pref a JOIN pref b ON a.i <= b.i),
        |mns AS (
        |  SELECT p.i, jk.j, min(avg_micro) AS mn
        |  FROM jk JOIN pref p ON jk.j <= p.i AND p.i <= jk.k
        |  GROUP BY 1, 2),
        |fits AS (
        |  SELECT i, CAST(max(mn) AS BIGINT) AS fit_micro
        |  FROM mns GROUP BY 1)
        |SELECT bin, n_docs, n_pos,
        |  CAST(n_pos * 1000000 // n_docs AS BIGINT) AS rate_micro,
        |  fit_micro
        |FROM pref JOIN fits USING (i)""".stripMargin,

    // q273: the same lattice block identity in DECIMAL, one final //
    "q273_gini" ->
      """WITH pc AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |wn AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS g, v
        |  FROM pc JOIN customer ON o_custkey = c_custkey),
        |lat AS (
        |  SELECT g, v, CAST(count(*) AS BIGINT) AS c
        |  FROM wn GROUP BY 1, 2),
        |wm AS (
        |  SELECT g, v, c,
        |    coalesce(CAST(sum(c) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS m
        |  FROM lat),
        |agg AS (
        |  SELECT g AS grp, CAST(sum(c) AS BIGINT) AS n_rows,
        |    sum(CAST(v AS HUGEINT) * c) AS s,
        |    sum(CAST(v AS HUGEINT) * (c * m + c * (c + 1) // 2)) AS s1
        |  FROM wm GROUP BY 1)
        |SELECT grp, n_rows, CAST(s AS BIGINT) AS sum_cents,
        |  CAST(CASE WHEN s > 0 THEN
        |    (2 * s1 - CAST(n_rows + 1 AS HUGEINT) * s) * 1000000
        |    // (CAST(n_rows AS HUGEINT) * s) END AS BIGINT)
        |    AS gini_micro
        |FROM agg""".stripMargin,

    "q307_rouge" ->
      s"""$docsSidesCtes
        |cgrams AS (
        |  SELECT doc_id, array_to_string(ct[i:i+1], ' ') AS g
        |  FROM sides, unnest(generate_series(1, len(ct) - 1)) AS u(i)),
        |rgrams AS (
        |  SELECT doc_id, array_to_string(rt[i:i+1], ' ') AS g
        |  FROM sides, unnest(generate_series(1, len(rt) - 1)) AS u(i)),
        |cg AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cc
        |  FROM cgrams GROUP BY 1, 2),
        |rg AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS rc
        |  FROM rgrams GROUP BY 1, 2),
        |m AS (
        |  SELECT cg.doc_id, CAST(sum(least(cc, rc)) AS BIGINT) AS mm
        |  FROM cg JOIN rg ON cg.doc_id = rg.doc_id AND cg.g = rg.g
        |  GROUP BY 1),
        |tot AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN len(ct) >= 2 THEN len(ct) - 1 ELSE 0 END
        |      AS BIGINT) AS n_cand,
        |    CAST(CASE WHEN len(rt) >= 2 THEN len(rt) - 1 ELSE 0 END
        |      AS BIGINT) AS n_ref
        |  FROM sides)
        |SELECT t.doc_id, coalesce(m.mm, 0) AS n_matches,
        |  t.n_cand, t.n_ref,
        |  CASE WHEN t.n_cand > 0
        |    THEN coalesce(m.mm, 0) * 1000000 // t.n_cand
        |    ELSE 0 END AS p_micro,
        |  CASE WHEN t.n_ref > 0
        |    THEN coalesce(m.mm, 0) * 1000000 // t.n_ref
        |    ELSE 0 END AS r_micro,
        |  CASE WHEN t.n_cand + t.n_ref > 0
        |    THEN 2 * coalesce(m.mm, 0) * 1000000 // (t.n_cand + t.n_ref)
        |    ELSE 0 END AS f_micro
        |FROM tot t LEFT JOIN m ON t.doc_id = m.doc_id""".stripMargin,

    // q307: clipped bigram overlap with multiplicity — per-side gram
    // counts, least() clip, the three integer ratios
    // q309: token-level LCS replayed as an anti-diagonal recursive
    // CTE — cell (i,j) completes at iteration i+j from the previous
    // diagonal's left/up rows (age 0) and the once-re-emitted
    // diagonal-before (age 1) for the +1 match step; contributions
    // collapse via max() per cell. Independent of the Spark side's
    // two-row DP but the same recurrence, so the gate is bit-exact
    "q309_rouge_l" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS rt0
        |  FROM documents),
        |base AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ct0) = 1 AND ct0[1] = '' THEN []::VARCHAR[]
        |      ELSE ct0 END AS ct,
        |    CASE WHEN len(rt0) = 1 AND rt0[1] = '' THEN []::VARCHAR[]
        |      ELSE rt0 END AS rt
        |  FROM (SELECT doc_id, rt0,
        |          rt0[(CAST(doc_id % 4 AS INT) + 1):] AS ct0
        |        FROM docs)),
        |cells AS (
        |  SELECT doc_id, 0 AS i, 0 AS j, CAST(0 AS BIGINT) AS v,
        |    0 AS age
        |  FROM base
        |  UNION ALL
        |  SELECT doc_id, i, j, max(v) AS v, age FROM (
        |    SELECT c.doc_id, c.i AS i, c.j + 1 AS j, c.v AS v, 0 AS age
        |    FROM cells c JOIN base b USING (doc_id)
        |    WHERE c.age = 0 AND c.j + 1 <= len(b.rt)
        |    UNION ALL
        |    SELECT c.doc_id, c.i + 1, c.j, c.v, 0
        |    FROM cells c JOIN base b USING (doc_id)
        |    WHERE c.age = 0 AND c.i + 1 <= len(b.ct)
        |    UNION ALL
        |    SELECT c.doc_id, c.i + 1, c.j + 1, c.v + 1, 0
        |    FROM cells c JOIN base b USING (doc_id)
        |    WHERE c.age = 1 AND c.i + 1 <= len(b.ct)
        |      AND c.j + 1 <= len(b.rt)
        |      AND b.ct[c.i + 1] = b.rt[c.j + 1]
        |    UNION ALL
        |    SELECT c.doc_id, c.i, c.j, c.v, 1
        |    FROM cells c WHERE c.age = 0
        |  ) GROUP BY doc_id, i, j, age),
        |lcs AS (
        |  SELECT c.doc_id, c.v AS n_lcs
        |  FROM cells c JOIN base b USING (doc_id)
        |  WHERE c.age = 0 AND c.i = len(b.ct) AND c.j = len(b.rt))
        |SELECT b.doc_id, l.n_lcs,
        |  CAST(len(b.ct) AS BIGINT) AS n_cand,
        |  CAST(len(b.rt) AS BIGINT) AS n_ref,
        |  CASE WHEN len(b.ct) > 0
        |    THEN l.n_lcs * 1000000 // len(b.ct) ELSE 0 END AS p_micro,
        |  CASE WHEN len(b.rt) > 0
        |    THEN l.n_lcs * 1000000 // len(b.rt) ELSE 0 END AS r_micro,
        |  CASE WHEN len(b.ct) + len(b.rt) > 0
        |    THEN 2 * l.n_lcs * 1000000 // (len(b.ct) + len(b.rt))
        |    ELSE 0 END AS f_micro
        |FROM base b JOIN lcs l USING (doc_id)""".stripMargin,

    // q308: q307's staging with an order dimension — per-(pair, n,
    // gram) counts, least() clip, order rollup, corpus lengths
    "q308_bleu_components" ->
      s"""$docsSidesCtes
        |orders AS (
        |  SELECT CAST(unnest(generate_series(1, 4)) AS INT) AS n),
        |cgrams AS (
        |  SELECT s.doc_id, o.n,
        |    array_to_string(s.ct[i:i+o.n-1], ' ') AS g
        |  FROM sides s, orders o,
        |    unnest(generate_series(1, len(s.ct) - o.n + 1)) AS u(i)
        |  WHERE NOT (len(s.ct) = 1 AND s.ct[1] = '')),
        |rgrams AS (
        |  SELECT s.doc_id, o.n,
        |    array_to_string(s.rt[i:i+o.n-1], ' ') AS g
        |  FROM sides s, orders o,
        |    unnest(generate_series(1, len(s.rt) - o.n + 1)) AS u(i)
        |  WHERE NOT (len(s.rt) = 1 AND s.rt[1] = '')),
        |cg AS (SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS cc
        |  FROM cgrams GROUP BY 1, 2, 3),
        |rg AS (SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS rc
        |  FROM rgrams GROUP BY 1, 2, 3),
        |m AS (
        |  SELECT cg.n, CAST(sum(least(cc, rc)) AS BIGINT) AS n_matches
        |  FROM cg JOIN rg ON cg.doc_id = rg.doc_id AND cg.n = rg.n
        |    AND cg.g = rg.g
        |  GROUP BY 1),
        |ctot AS (
        |  SELECT o.n, CAST(sum(greatest(
        |      (CASE WHEN len(ct) = 1 AND ct[1] = '' THEN 0
        |            ELSE len(ct) END) - o.n + 1, 0)) AS BIGINT)
        |    AS n_cand_ngrams
        |  FROM sides, orders o GROUP BY 1),
        |lens AS (SELECT
        |  CAST(sum(CASE WHEN len(ct) = 1 AND ct[1] = '' THEN 0
        |    ELSE len(ct) END) AS BIGINT) AS cand_tokens,
        |  CAST(sum(CASE WHEN len(rt) = 1 AND rt[1] = '' THEN 0
        |    ELSE len(rt) END) AS BIGINT) AS ref_tokens
        |  FROM sides)
        |SELECT CAST(o.n AS BIGINT) AS n,
        |  coalesce(m.n_matches, 0) AS n_matches,
        |  ctot.n_cand_ngrams, lens.cand_tokens, lens.ref_tokens
        |FROM orders o
        |JOIN ctot ON ctot.n = o.n
        |LEFT JOIN m ON m.n = o.n, lens""".stripMargin,

    // q313: the ANOVA identities over HUGEINT — per-group S_g²·1e4
    // exact integer quotients, SSB/SSW on the q4 lattice, one final
    // integer division for F
    "q313_anova" ->
      s"""WITH base AS (
        |  SELECT event_type AS g,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events),
        |$perToCoreTail
        |  END AS f_micro
        |FROM core""".stripMargin,

    // q314: doubled ranks from the value lattice (2c + t + 1 per tie
    // group), per-group quotients and the tie-corrected H in HUGEINT
    "q314_kruskal_wallis" ->
      """WITH base AS (
        |  SELECT event_type AS g,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events),
        |vals AS (
        |  SELECT v, CAST(count(*) AS BIGINT) AS t
        |  FROM base GROUP BY v),
        |ranked AS (
        |  SELECT v, t,
        |    2 * coalesce(sum(t) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + t + 1 AS r2
        |  FROM vals),
        |gv AS (
        |  SELECT g, v, CAST(count(*) AS BIGINT) AS c
        |  FROM base GROUP BY 1, 2),
        |rg AS (
        |  SELECT g, CAST(sum(c * r2) AS BIGINT) AS r2g,
        |    CAST(sum(c) AS BIGINT) AS ng
        |  FROM gv JOIN ranked USING (v) GROUP BY g),
        |terms AS (
        |  SELECT sum((CAST(r2g AS HUGEINT) * r2g) // ng) AS sum_t,
        |    CAST(count(*) AS BIGINT) AS k
        |  FROM rg),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
        |tie AS (
        |  SELECT CAST(coalesce(sum(t * t * t - t), 0) AS BIGINT) AS t3
        |  FROM vals),
        |core AS (
        |  SELECT n, k, t3,
        |    CASE WHEN k >= 2 THEN
        |      CAST(greatest(CAST(0 AS HUGEINT),
        |        (sum_t * 3000000) // (CAST(n AS HUGEINT) * (n + 1))
        |          - CAST(3000000 AS HUGEINT) * (n + 1)) AS BIGINT)
        |    END AS h_micro
        |  FROM terms, tot, tie)
        |SELECT n AS n_rows, k AS k_groups, t3 AS tie_t3, h_micro,
        |  CASE WHEN h_micro IS NOT NULL
        |        AND CAST(n AS HUGEINT) * n * n - n - t3 > 0 THEN
        |    CAST((CAST(h_micro AS HUGEINT)
        |        * (CAST(n AS HUGEINT) * n * n - n))
        |      // (CAST(n AS HUGEINT) * n * n - n - t3) AS BIGINT)
        |  END AS h_adj_micro
        |FROM core""".stripMargin,

    // q316: within-block doubled ranks (min cum over the tie group),
    // complete-block gating, HUGEINT Q and tie-corrected Q*
    "q316_friedman" ->
      s"""WITH cells AS (
        |  SELECT user_id % 40 AS b, event_type AS tr,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS v
        |  FROM events GROUP BY 1, 2),
        |$kkToR2sCtes
        |pt AS (SELECT tr, CAST(sum(r2) AS BIGINT) AS r2j
        |  FROM r2s GROUP BY tr),
        |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n
        |  FROM complete),
        |tie AS (
        |  SELECT CAST(coalesce(sum(t * t * t - t), 0) AS BIGINT) AS t3
        |  FROM (SELECT DISTINCT b, v, t FROM r2s)),
        |ss AS (SELECT sum(CAST(r2j AS HUGEINT) * r2j) AS ss FROM pt),
        |core AS (
        |  SELECT nb.n, kk.k, drp.d, tie.t3,
        |    CASE WHEN kk.k >= 2 AND nb.n >= 1 THEN
        |      CAST(greatest(CAST(0 AS HUGEINT),
        |        (ss.ss * 3000000)
        |          // (CAST(4 AS HUGEINT) * nb.n * kk.k * (kk.k + 1))
        |        - CAST(3000000 AS HUGEINT) * nb.n * (kk.k + 1))
        |        AS BIGINT)
        |    END AS q_micro
        |  FROM nb, kk, drp, tie, ss)
        |SELECT n AS n_blocks, k AS k_treatments,
        |  d AS n_blocks_dropped, t3 AS tie_t3, q_micro,
        |  CASE WHEN q_micro IS NOT NULL
        |        AND CAST(n AS HUGEINT) * k * (k * k - 1) - t3 > 0 THEN
        |    CAST((CAST(q_micro AS HUGEINT)
        |        * (CAST(n AS HUGEINT) * k * (k * k - 1)))
        |      // (CAST(n AS HUGEINT) * k * (k * k - 1) - t3)
        |      AS BIGINT)
        |  END AS q_adj_micro
        |FROM core""".stripMargin,

    // q317: column/row totals over complete blocks, one integer ratio
    "q317_cochran_q" ->
      s"""WITH cells AS (
        |  SELECT user_id % 40 AS b, event_type AS tr,
        |    max(CASE WHEN CAST(round(value * 100) AS BIGINT) % 3 = 0
        |        THEN 1 ELSE 0 END) AS x
        |  FROM events GROUP BY 1, 2),
        |$kkToDrpCtes
        |ct AS (
        |  SELECT CAST(sum(cj * cj) AS BIGINT) AS sum_cj2,
        |    CAST(sum(cj) AS BIGINT) AS nn
        |  FROM (SELECT tr, CAST(sum(x) AS BIGINT) AS cj
        |        FROM complete GROUP BY tr)),
        |rt AS (
        |  SELECT CAST(coalesce(sum(rb * rb), 0) AS BIGINT) AS sum_rb2,
        |    CAST(count(*) AS BIGINT) AS n_blocks
        |  FROM (SELECT b, CAST(sum(x) AS BIGINT) AS rb
        |        FROM complete GROUP BY b))
        |SELECT rt.n_blocks, kk.k AS k_treatments,
        |  drp.d AS n_blocks_dropped,
        |  coalesce(ct.nn, 0) AS grand_n,
        |  CASE WHEN kk.k >= 2
        |        AND kk.k * coalesce(ct.nn, 0) - rt.sum_rb2 > 0 THEN
        |    ((kk.k - 1) * (kk.k * coalesce(ct.sum_cj2, 0)
        |       - coalesce(ct.nn, 0) * coalesce(ct.nn, 0)) * 1000000)
        |      // (kk.k * coalesce(ct.nn, 0) - rt.sum_rb2)
        |  END AS q_micro
        |FROM ct, rt, kk, drp""".stripMargin,

    // q321: per-group lattice medians (doubled: the two middle order
    // stats summed), then the q313 ANOVA algebra verbatim on the
    // doubled absolute deviations
    "q321_brown_forsythe" ->
      s"""WITH base0 AS (
        |  SELECT event_type AS g,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events),
        |lat AS (
        |  SELECT g, v, CAST(count(*) AS BIGINT) AS t
        |  FROM base0 GROUP BY 1, 2),
        |cum AS (
        |  SELECT g, v, t,
        |    CAST(sum(t) OVER (PARTITION BY g ORDER BY v) AS BIGINT)
        |      AS cum,
        |    CAST(sum(t) OVER (PARTITION BY g) AS BIGINT) AS ng
        |  FROM lat),
        |med AS (
        |  SELECT g,
        |    min(CASE WHEN cum >= (ng + 1) // 2 THEN v END)
        |    + min(CASE WHEN cum >= ng // 2 + 1 THEN v END) AS m2
        |  FROM cum GROUP BY g),
        |base AS (
        |  SELECT b.g, abs(2 * b.v - m.m2) AS v
        |  FROM base0 b JOIN med m ON b.g = m.g),
        |$perToCoreTail
        |  END AS w_micro
        |FROM core""".stripMargin,

    // q322: whitespace-stripped char windows per order 1..4, clipped
    // matches, floored per-order micros, order-averaged P/R, chrF2 as
    // one final integer division — all in // arithmetic
    "q322_chrf" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk,
        |    text
        |  FROM documents),
        |pair AS (
        |  SELECT doc_id,
        |    regexp_replace(trim(text), '\s+', '', 'g') AS r,
        |    replace(array_to_string(
        |      tk[CAST(doc_id % 4 + 1 AS INT):], ' '), ' ', '') AS c
        |  FROM t),
        |ord AS (
        |  SELECT doc_id, c, r, CAST(n AS BIGINT) AS n
        |  FROM pair, unnest(generate_series(1, 4)) AS u(n)),
        |cg AS (
        |  SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS cc FROM (
        |    SELECT doc_id, n, unnest([substr(c, CAST(i AS INT), CAST(n AS INT))
        |      for i in generate_series(1, length(c) - n + 1)]) AS g
        |    FROM ord)
        |  GROUP BY 1, 2, 3),
        |rg AS (
        |  SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS rc FROM (
        |    SELECT doc_id, n, unnest([substr(r, CAST(i AS INT), CAST(n AS INT))
        |      for i in generate_series(1, length(r) - n + 1)]) AS g
        |    FROM ord)
        |  GROUP BY 1, 2, 3),
        |m AS (
        |  SELECT doc_id, n, CAST(sum(least(cc, rc)) AS BIGINT) AS mn
        |  FROM cg JOIN rg USING (doc_id, n, g) GROUP BY 1, 2),
        |tots AS (
        |  SELECT doc_id, n,
        |    greatest(length(c) - n + 1, 0) AS cn,
        |    greatest(length(r) - n + 1, 0) AS rn
        |  FROM ord),
        |per AS (
        |  SELECT t.doc_id,
        |    CASE WHEN cn > 0 THEN coalesce(mn, 0) * 1000000 // cn
        |      ELSE 0 END AS pn,
        |    CASE WHEN rn > 0 THEN coalesce(mn, 0) * 1000000 // rn
        |      ELSE 0 END AS rrn
        |  FROM tots t LEFT JOIN m USING (doc_id, n)),
        |agg AS (
        |  SELECT doc_id, CAST(sum(pn) // 4 AS BIGINT) AS chrp_micro,
        |    CAST(sum(rrn) // 4 AS BIGINT) AS chrr_micro
        |  FROM per GROUP BY 1)
        |SELECT doc_id, chrp_micro, chrr_micro,
        |  CAST(CASE WHEN 4 * chrp_micro + chrr_micro > 0 THEN
        |      5 * chrp_micro * chrr_micro
        |        // (4 * chrp_micro + chrr_micro)
        |    ELSE 0 END AS BIGINT) AS chrf_micro
        |FROM agg""".stripMargin,

    // q329: the q316 rank CTEs + a treatment-order index + the
    // weighted rank sum; E[L2] and the no-tie variance as the same
    // float tree
    "q329_page_trend" ->
      s"""WITH cells AS (
        |  SELECT user_id % 40 AS b, CAST(event_id % 4 AS BIGINT) AS tr,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)
        |      + (event_id % 4) * 50) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |$kkToR2sCtes
        |ord AS (
        |  SELECT tr, CAST(row_number() OVER (ORDER BY tr) AS BIGINT)
        |    AS j
        |  FROM (SELECT DISTINCT tr FROM complete)),
        |pt AS (SELECT tr, CAST(sum(r2) AS BIGINT) AS r2j
        |  FROM r2s GROUP BY tr),
        |l AS (SELECT coalesce(sum(CAST(j AS HUGEINT) * r2j),
        |    CAST(0 AS HUGEINT)) AS l2
        |  FROM pt JOIN ord USING (tr)),
        |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n
        |  FROM complete),
        |t3 AS (SELECT CAST(coalesce(sum(t * t * t - t), 0) AS BIGINT)
        |    AS t3
        |  FROM (SELECT DISTINCT b, v, t FROM r2s))
        |SELECT n AS n_blocks, k AS k_treatments, d AS n_blocks_dropped,
        |  t3 AS tie_t3, CAST(l2 AS BIGINT) AS l2,
        |  CAST(CAST(n AS HUGEINT) * k * (k + 1) * (k + 1) // 2
        |    AS BIGINT) AS el2,
        |  CASE WHEN k >= 2 AND n >= 1 THEN
        |    round(((CAST(l2 AS DOUBLE)
        |      - CAST(CAST(CAST(n AS HUGEINT) * k * (k + 1) * (k + 1)
        |          // 2 AS BIGINT) AS DOUBLE)) / 2.0)
        |      / sqrt(CAST(n AS DOUBLE) * k * k * (k + 1) * (k + 1)
        |          * (k - 1) / 144.0), 6)
        |  END AS z
        |FROM l, nb, kk, drp, t3""".stripMargin,

    // q328: pair-tagged lattices, per-pair cumulative window, the
    // doubled-JT sum in HUGEINT, the three-term tie-corrected
    // variance as one float tree
    "q328_jonckheere" ->
      """WITH base AS (
        |  SELECT CAST(user_id % 4 AS BIGINT) AS g,
        |    CAST(round(value * 100) AS BIGINT)
        |      + CAST(user_id % 4 AS BIGINT) * 500 AS v
        |  FROM events),
        |lat AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c
        |        FROM base GROUP BY 1, 2),
        |grp AS (SELECT g, CAST(sum(c) AS BIGINT) AS ng
        |        FROM lat GROUP BY 1),
        |pairs AS (SELECT a.g AS gi, b.g AS gj
        |          FROM grp a, grp b WHERE a.g < b.g),
        |m AS (
        |  SELECT gi, gj, v, CAST(sum(ci) AS BIGINT) AS ci,
        |    CAST(sum(cj) AS BIGINT) AS cj
        |  FROM (
        |    SELECT gi, gj, v, c AS ci, 0 AS cj
        |    FROM lat JOIN pairs ON g = gi
        |    UNION ALL
        |    SELECT gi, gj, v, 0 AS ci, c AS cj
        |    FROM lat JOIN pairs ON g = gj)
        |  GROUP BY 1, 2, 3),
        |cum AS (
        |  SELECT gi, gj, v, ci, cj,
        |    CAST(coalesce(sum(ci) OVER (PARTITION BY gi, gj ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum
        |  FROM m),
        |jt AS (SELECT coalesce(sum(CAST(cj AS HUGEINT)
        |    * (2 * cum + ci)), CAST(0 AS HUGEINT)) AS jt2 FROM cum),
        |gs AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(ng) AS BIGINT) AS nn,
        |    sum(CAST(ng AS HUGEINT) * ng) AS sum_n2,
        |    sum(CAST(ng AS HUGEINT) * (ng - 1) * (2 * ng + 5)) AS a_n,
        |    sum(CAST(ng AS HUGEINT) * (ng - 1) * (ng - 2)) AS b_n,
        |    sum(CAST(ng AS HUGEINT) * (ng - 1)) AS c_n
        |  FROM grp),
        |tt AS (
        |  SELECT
        |    coalesce(sum(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)),
        |      CAST(0 AS HUGEINT)) AS a_t,
        |    coalesce(sum(CAST(t AS HUGEINT) * (t - 1) * (t - 2)),
        |      CAST(0 AS HUGEINT)) AS b_t,
        |    coalesce(sum(CAST(t AS HUGEINT) * (t - 1)),
        |      CAST(0 AS HUGEINT)) AS c_t
        |  FROM (SELECT v, CAST(count(*) AS BIGINT) AS t
        |        FROM base GROUP BY 1)),
        |core AS (
        |  SELECT nn, k, CAST(jt2 AS BIGINT) AS jt2,
        |    CAST((CAST(nn AS HUGEINT) * nn - sum_n2) // 2 AS BIGINT)
        |      AS mean2,
        |    (CAST(nn AS DOUBLE) * (nn - 1) * (2 * nn + 5)
        |       - CAST(a_n AS DOUBLE) - CAST(a_t AS DOUBLE)) / 72.0
        |    + CAST(b_n AS DOUBLE) * CAST(b_t AS DOUBLE)
        |      / (36.0 * nn * (nn - 1) * (nn - 2))
        |    + CAST(c_n AS DOUBLE) * CAST(c_t AS DOUBLE)
        |      / (8.0 * nn * (nn - 1)) AS vr
        |  FROM jt, gs, tt)
        |SELECT nn AS n_rows, k AS k_groups, jt2, mean2,
        |  CASE WHEN k >= 2 AND nn >= 3 AND vr > 0 THEN
        |    round(((CAST(jt2 AS DOUBLE) - CAST(mean2 AS DOUBLE)) / 2.0)
        |      / sqrt(vr), 6)
        |  END AS z
        |FROM core""".stripMargin,

    // q275: the four paired cells + the integer continuity-corrected
    // chi2; mods are pmod-equivalent ((x%k+k)%k) like q272
    "q275_mcnemar" ->
      """WITH p AS (
        |  SELECT
        |    (((CAST(round(value * 100) AS BIGINT) % 7) + 7) % 7) < 3 AS a,
        |    (((CAST(round(value * 100) AS BIGINT) % 5) + 5) % 5) < 2 AS b
        |  FROM events),
        |cells AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        |    CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        |    CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n10
        |  FROM p)
        |SELECT n_pairs, n_both, n01, n10,
        |  CASE WHEN n01 + n10 > 0 THEN
        |    greatest(abs(n01 - n10) - 1, 0) * greatest(abs(n01 - n10) - 1, 0)
        |    * 1000000 // (n01 + n10) END AS chi2_micro,
        |  coalesce(CASE WHEN n01 + n10 > 0 THEN
        |    greatest(abs(n01 - n10) - 1, 0) * greatest(abs(n01 - n10) - 1, 0)
        |    * 1000000 // (n01 + n10) END > 3841459, false) AS significant
        |FROM cells""".stripMargin,

    // q277: the portable draw (rolling fold -> two avalanche rounds ->
    // mod 1e6), the exact integer sort key u*1e12 // size, and the
    // per-stratum rank window — replayed verbatim
    "q277_pps_sample" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |h0 AS (
        |  SELECT doc_id, source, n_tokens,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(
        |        CAST(doc_id AS VARCHAR) || ':42', ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM d),
        |h1 AS (SELECT *, (xor(h, h // 65536) * 73244475) % 4294967296 AS h1
        |  FROM h0),
        |h2 AS (SELECT *, (xor(h1, h1 // 65536) * 73244475) % 4294967296 AS h2
        |  FROM h1),
        |u AS (SELECT doc_id, source, n_tokens,
        |    xor(h2, h2 // 65536) % 1000000 AS u_micro
        |  FROM h2),
        |keyed AS (
        |  SELECT doc_id, source, n_tokens,
        |    (u_micro * 1000000000000) // n_tokens AS pk
        |  FROM u),
        |rk AS (
        |  SELECT doc_id, source, n_tokens,
        |    row_number() OVER (PARTITION BY source ORDER BY pk, doc_id) AS r
        |  FROM keyed)
        |SELECT doc_id, source, n_tokens FROM rk WHERE r <= 20""".stripMargin,

    // q282: the same lattice walk replayed relationally — per-user
    // coalition bitmasks, observed-coalition micro rates (unobserved
    // v = 0), recursive-CTE mask lattice + factorial table, floor-div
    // via the pmod identity so negative numerators round identically
    "q282_shapley" ->
      """WITH ch AS (
        |  SELECT event_type AS ch,
        |    row_number() OVER (ORDER BY event_type) - 1 AS bit
        |  FROM (SELECT DISTINCT event_type FROM events
        |        WHERE event_type <> 'purchase')),
        |n AS (SELECT count(*) AS n FROM ch),
        |touched AS (
        |  SELECT DISTINCT e.user_id AS u, ch.bit
        |  FROM events e JOIN ch ON e.event_type = ch.ch),
        |per_user AS (
        |  SELECT t.u, CAST(sum(1 << bit) AS BIGINT) AS mask,
        |    max(CASE WHEN p.u IS NOT NULL THEN 1 ELSE 0 END) AS conv
        |  FROM touched t LEFT JOIN (
        |    SELECT DISTINCT user_id AS u FROM events
        |    WHERE event_type = 'purchase') p ON t.u = p.u
        |  GROUP BY t.u),
        |coal AS (
        |  SELECT mask, CAST(sum(conv) * 1000000 // count(*) AS BIGINT) AS v
        |  FROM per_user GROUP BY mask),
        |masks AS (
        |  SELECT unnest(range(0, (SELECT 1 << n FROM n))) AS mask),
        |lattice AS (
        |  SELECT m.mask, COALESCE(c.v, 0) AS v
        |  FROM masks m LEFT JOIN coal c ON m.mask = c.mask),
        |fact AS (
        |  SELECT i, CAST(COALESCE(list_product(
        |      list_transform(range(1, i + 1), x -> CAST(x AS DOUBLE))),
        |      1) AS BIGINT) AS f
        |  FROM (SELECT unnest(range(0, 13)) AS i)),
        |terms AS (
        |  SELECT ch.ch, fs.f * fn1s.f * (lu.v - l.v) AS t
        |  FROM ch
        |  JOIN lattice l ON (l.mask >> ch.bit) % 2 = 0
        |  JOIN lattice lu ON lu.mask = l.mask + (1 << ch.bit)
        |  JOIN fact fs ON fs.i = bit_count(l.mask)
        |  JOIN fact fn1s ON fn1s.i = (SELECT n FROM n) - 1 - bit_count(l.mask)),
        |nf AS (SELECT f FROM fact WHERE i = (SELECT n FROM n)),
        |agg AS (
        |  SELECT ch AS channel, CAST(sum(t) AS BIGINT) AS shapley_num
        |  FROM terms GROUP BY ch),
        |pcu AS (SELECT ch.ch AS channel, count(*) AS n_users
        |  FROM touched t JOIN ch ON t.bit = ch.bit GROUP BY 1)
        |SELECT a.channel, CAST(p.n_users AS BIGINT) AS n_users,
        |  a.shapley_num,
        |  CAST((a.shapley_num -
        |      ((a.shapley_num % (SELECT f FROM nf)) + (SELECT f FROM nf))
        |        % (SELECT f FROM nf))
        |    // (SELECT f FROM nf) AS BIGINT) AS shapley_micro
        |FROM agg a JOIN pcu p ON a.channel = p.channel""".stripMargin,

    // q283: the q60 hash-split replay + the same exact-rank conformal
    // algebra — per-type train mean, ceil((n+1)(1-alpha)) order
    // statistic by window rank, coverage count on the test split
    "q283_conformal" ->
      """WITH h AS (
        |  SELECT event_type AS g, event_id AS rid,
        |    CAST(round(value * 100) AS BIGINT) AS y,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(event_id || ':42', ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) % 1000000 AS hv
        |  FROM events),
        |s AS (
        |  SELECT g, rid, y,
        |    CASE WHEN hv < 400000 THEN 'train'
        |         WHEN hv < 700000 THEN 'calib'
        |         ELSE 'test' END AS split
        |  FROM h),
        |model AS (
        |  SELECT g, CAST(sum(y) // count(*) AS BIGINT) AS mean_cents
        |  FROM s WHERE split = 'train' GROUP BY g),
        |scored AS (
        |  SELECT s.g, s.rid, s.split, abs(s.y - m.mean_cents) AS sc
        |  FROM s JOIN model m ON s.g = m.g WHERE s.split <> 'train'),
        |ncal AS (
        |  SELECT g, count(*) AS n_calib FROM scored
        |  WHERE split = 'calib' GROUP BY g),
        |qh AS (
        |  SELECT g, n_calib, sc AS qhat_cents FROM (
        |    SELECT c.g, n.n_calib, c.sc,
        |      row_number() OVER (PARTITION BY c.g ORDER BY c.sc, c.rid)
        |        AS rn
        |    FROM scored c JOIN ncal n ON c.g = n.g
        |    WHERE c.split = 'calib')
        |  WHERE rn = ((n_calib + 1) * 900000 + 999999) // 1000000)
        |SELECT t.g AS "group", m.mean_cents, q.n_calib, q.qhat_cents,
        |  CAST(count(*) AS BIGINT) AS n_test,
        |  CAST(sum(CASE WHEN t.sc <= q.qhat_cents THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_covered,
        |  CAST(sum(CASE WHEN t.sc <= q.qhat_cents THEN 1 ELSE 0 END)
        |    * 1000000 // count(*) AS BIGINT) AS coverage_micro
        |FROM scored t
        |JOIN qh q ON t.g = q.g
        |JOIN model m ON t.g = m.g
        |WHERE t.split = 'test'
        |GROUP BY t.g, m.mean_cents, q.n_calib, q.qhat_cents""".stripMargin,

    // q284: the same CDF-difference integral on the merged cents
    // lattice — per-value arm counts, window cumsums, lead() gaps,
    // one cross-scaled numerator summed, remainder-split output
    "q284_wasserstein" ->
      """WITH c AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v,
        |    CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN event_id % 2 <> 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cb
        |  FROM events GROUP BY 1, 2),
        |tot AS (
        |  SELECT event_type, CAST(sum(ca) AS BIGINT) AS n_a,
        |    CAST(sum(cb) AS BIGINT) AS n_b
        |  FROM c GROUP BY 1
        |  HAVING sum(ca) > 0 AND sum(cb) > 0),
        |cum AS (
        |  SELECT event_type, v,
        |    sum(ca) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cuma,
        |    sum(cb) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cumb,
        |    COALESCE(lead(v) OVER (PARTITION BY event_type ORDER BY v)
        |      - v, 0) AS gap
        |  FROM c),
        |agg AS (
        |  SELECT cum.event_type, t.n_a, t.n_b,
        |    CAST(sum(abs(cuma * t.n_b - cumb * t.n_a) * gap) AS BIGINT)
        |      AS w1_num
        |  FROM cum JOIN tot t ON cum.event_type = t.event_type
        |  GROUP BY 1, 2, 3)
        |SELECT event_type, n_a, n_b, w1_num,
        |  w1_num // (n_a * n_b) AS w1_cents,
        |  (w1_num % (n_a * n_b)) * 1000000 // (n_a * n_b)
        |    AS w1_frac_micro
        |FROM agg""".stripMargin,

    // q286: the q277 avalanche-draw replay (rolling fold, two mix
    // rounds, final fold, mod 1e6) + the same debiasing algebra
    "q286_randomized_response" ->
      s"""WITH h0 AS (
        |  SELECT event_type AS g, value > 50.0 AS t,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(
        |        CAST(event_id AS VARCHAR) || ':42', ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM events),
        |$h1H2Ctes
        |u AS (SELECT g, t,
        |    xor(hv2, hv2 // 65536) % 1000000 AS u_micro
        |  FROM h2),
        |rep AS (SELECT g, t, t <> (u_micro < 100000) AS r FROM u),
        |agg AS (
        |  SELECT g AS "group", CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS c_true,
        |    CAST(sum(CASE WHEN r THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c_reported
        |  FROM rep GROUP BY 1)
        |SELECT "group", n, c_true, c_reported,
        |  (c_reported * 1000000 - n * 100000) * 1000000 // 800000
        |    AS est_micro,
        |  abs((c_reported * 1000000 - n * 100000) * 1000000 // 800000
        |    - c_true * 1000000) AS err_micro
        |FROM agg""".stripMargin,

    // q287: class table -> conditional aggregates, the l spine
    // replayed per row
    "q287_ldiversity" ->
      """WITH classes AS (
        |  SELECT user_id % 50 AS qi_user, substr(event_type, 1, 1)
        |      AS qi_et,
        |    CAST(count(*) AS BIGINT) AS class_size,
        |    CAST(count(DISTINCT CAST(floor(value / 100) AS BIGINT))
        |      AS BIGINT) AS n_sensitive
        |  FROM events GROUP BY 1, 2),
        |stats AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_classes,
        |    CAST(sum(class_size) AS BIGINT) AS n_rows,
        |    CAST(min(n_sensitive) AS BIGINT) AS min_diversity
        |  FROM classes),
        |ls AS (SELECT unnest([2, 3, 5]) AS l)
        |SELECT CAST(ls.l AS BIGINT) AS l, s.n_classes, s.n_rows,
        |  s.min_diversity,
        |  (SELECT CAST(sum(CASE WHEN c.n_sensitive < ls.l THEN 1
        |     ELSE 0 END) AS BIGINT) FROM classes c) AS classes_below,
        |  (SELECT CAST(sum(CASE WHEN c.n_sensitive < ls.l
        |     THEN c.class_size ELSE 0 END) AS BIGINT) FROM classes c)
        |    AS rows_at_risk,
        |  (SELECT CAST(sum(CASE WHEN c.n_sensitive < ls.l
        |     THEN c.class_size ELSE 0 END) AS BIGINT) FROM classes c)
        |    * 1000000 // s.n_rows AS risk_share_micro,
        |  s.min_diversity >= ls.l AS satisfies_l
        |FROM ls, stats s""".stripMargin,

    // q288: plain window ranks (fine at oracle scale) + the same
    // integer ceil rematch against the global order statistics
    "q288_quantile_normalize" ->
      """WITH r AS (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS src_rank,
        |    count(*) OVER (PARTITION BY source) AS n_source
        |  FROM documents),
        |g AS (
        |  SELECT n_chars AS qnorm,
        |    row_number() OVER (ORDER BY n_chars, doc_id) AS grank
        |  FROM documents),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT r.doc_id, r.source, r.n_chars,
        |  CAST(r.src_rank AS BIGINT) AS src_rank,
        |  CAST(r.n_source AS BIGINT) AS n_source, g.qnorm
        |FROM r, n
        |JOIN g ON g.grank =
        |  (r.src_rank * n.n + r.n_source - 1) // r.n_source""".stripMargin,

    // q299: the avalanche weights replayed per (key, shard), argmax
    // by (w desc, shard) rank, both topologies + the moved census
    "q299_rendezvous" ->
      s"""WITH keys AS (SELECT DISTINCT CAST(doc_id AS VARCHAR) AS k
        |  FROM documents),
        |spine AS (SELECT unnest(range(0, 9)) AS shard),
        |h0 AS (
        |  SELECT k, shard,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(
        |        k || ':' || shard || ':42', ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM keys, spine),
        |$h1H2Ctes
        |wt AS (SELECT k, shard,
        |    xor(hv2, hv2 // 65536) % 1000000000 AS w
        |  FROM h2),
        |oldp AS (
        |  SELECT k, shard FROM (
        |    SELECT k, shard, row_number() OVER (PARTITION BY k
        |      ORDER BY w DESC, shard) AS rn
        |    FROM wt WHERE shard < 8) WHERE rn = 1),
        |newp AS (
        |  SELECT k, shard FROM (
        |    SELECT k, shard, row_number() OVER (PARTITION BY k
        |      ORDER BY w DESC, shard) AS rn
        |    FROM wt) WHERE rn = 1)
        |SELECT 'n' AS topology, CAST(shard AS BIGINT) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_keys FROM oldp GROUP BY 2
        |UNION ALL
        |SELECT 'n_plus_1', CAST(shard AS BIGINT), count(*)
        |FROM newp GROUP BY 2
        |UNION ALL
        |SELECT 'moved', -1, count(*)
        |FROM oldp o JOIN newp n ON o.k = n.k AND o.shard <> n.shard""".stripMargin,

    // q300: the same floors + top-remainder ranks
    "q300_apportion" ->
      """WITH tok AS (
        |  SELECT source AS g,
        |    CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
        |      AS BIGINT) AS weight
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(weight) AS BIGINT) AS tw FROM tok),
        |based AS (
        |  SELECT g, weight, 1000000 * weight // tw AS base,
        |    ((1000000 * weight) % tw + tw) % tw AS rem
        |  FROM tok, tot),
        |short AS (SELECT 1000000 - CAST(sum(base) AS BIGINT) AS l
        |  FROM based),
        |ranked AS (
        |  SELECT g, weight, base, rem,
        |    row_number() OVER (ORDER BY rem DESC, g) AS rk
        |  FROM based)
        |SELECT g AS "group", weight, base,
        |  CASE WHEN rk <= (SELECT l FROM short) THEN 1 ELSE 0 END
        |    AS extra,
        |  base + CASE WHEN rk <= (SELECT l FROM short) THEN 1 ELSE 0 END
        |    AS quota
        |FROM ranked""".stripMargin,

    // q298: the same integer coincidence algebra — S = 2520-scaled
    // within-unit disagreeing pairs, marginal sum of squares, one
    // micro division
    "q298_krippendorff" ->
      """WITH ratings AS (
        |  SELECT user_id AS u,
        |    CAST((CAST(sum(CAST(round(value * 100) AS BIGINT))
        |      AS BIGINT) // count(*)) // 2000 AS VARCHAR) AS c
        |  FROM events GROUP BY user_id, event_type),
        |cnts AS (
        |  SELECT u, c, CAST(count(*) AS BIGINT) AS cnt
        |  FROM ratings GROUP BY 1, 2),
        |units AS (
        |  SELECT u, CAST(sum(cnt) AS BIGINT) AS m,
        |    CAST(sum(cnt * (cnt - 1)) AS BIGINT) AS same
        |  FROM cnts GROUP BY u
        |  HAVING sum(cnt) >= 2),
        |obs AS (
        |  -- error() fires for any m > 10: the counterpart of the
        |  -- Spark side's maxRatings assert_true, so BOTH engines fail
        |  -- loudly on the same input. (The previous 1//(CASE..) guard
        |  -- was SILENT: DuckDB 1.0 returns NULL for 1//0, so m > 10
        |  -- units just dropped out of n — ADVICE r13)
        |  SELECT CAST(count(*) AS BIGINT) AS n_units,
        |    CAST(sum(CASE WHEN m <= 10 THEN m ELSE
        |        CAST(error('krippendorff: unit exceeds 10 ratings')
        |          AS BIGINT) END)
        |      AS BIGINT) AS n,
        |    CAST(sum(2520 * (m * (m - 1) - same) // (m - 1)) AS BIGINT)
        |      AS off_s
        |  FROM units),
        |marg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_labels,
        |    CAST(sum(n_c * n_c) AS BIGINT) AS sumsq
        |  FROM (SELECT c, CAST(sum(cnt) AS BIGINT) AS n_c
        |        FROM cnts JOIN units USING (u) GROUP BY c))
        |SELECT o.n_units, o.n AS n_ratings, m.n_labels,
        |  CASE WHEN o.n * o.n - m.sumsq > 0
        |    THEN 1000000 - o.off_s * (o.n - 1) * 1000000
        |      // (2520 * (o.n * o.n - m.sumsq)) END AS alpha_micro
        |FROM obs o, marg m""".stripMargin,

    // q297: the melt as a 12-way UNION ALL, same census
    "q297_fd_discovery" ->
      """WITH m AS (
        |  SELECT p.lhs, p.rhs,
        |    CASE p.lhs WHEN 'o_orderkey' THEN CAST(o_orderkey AS VARCHAR)
        |      WHEN 'o_custkey' THEN CAST(o_custkey AS VARCHAR)
        |      WHEN 'o_orderstatus' THEN o_orderstatus
        |      ELSE o_orderpriority END AS lv,
        |    CASE p.rhs WHEN 'o_orderkey' THEN CAST(o_orderkey AS VARCHAR)
        |      WHEN 'o_custkey' THEN CAST(o_custkey AS VARCHAR)
        |      WHEN 'o_orderstatus' THEN o_orderstatus
        |      ELSE o_orderpriority END AS rv
        |  FROM orders, (
        |    SELECT a.c AS lhs, b.c AS rhs
        |    FROM (SELECT unnest(['o_orderkey', 'o_custkey',
        |      'o_orderstatus', 'o_orderpriority']) AS c) a,
        |         (SELECT unnest(['o_orderkey', 'o_custkey',
        |      'o_orderstatus', 'o_orderpriority']) AS c) b
        |    WHERE a.c <> b.c) p),
        |keys AS (
        |  SELECT lhs, rhs, lv, count(DISTINCT rv)
        |    + max(CASE WHEN rv IS NULL THEN 1 ELSE 0 END) AS nd
        |  FROM m GROUP BY 1, 2, 3)
        |SELECT lhs, rhs, CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_viol_keys,
        |  CAST(max(nd) AS BIGINT) AS max_rhs_per_key,
        |  sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS holds
        |FROM keys GROUP BY 1, 2""".stripMargin,

    // q244: the same rank identity over the distinct-value lattice
    "q244_equi_depth_hist" ->
      """WITH byv AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY 1),
        |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM byv),
        |cum AS (
        |  SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM byv),
        |spine AS (SELECT unnest(generate_series(1, 8)) AS bucket),
        |bounds AS (
        |  SELECT s.bucket, min(c.v) AS hi
        |  FROM spine s, cum c CROSS JOIN n
        |  WHERE c.cum * 8 >= s.bucket * n.n
        |  GROUP BY 1),
        |lo AS (
        |  SELECT bucket, hi,
        |    lag(hi) OVER (ORDER BY bucket) AS lo
        |  FROM bounds)
        |SELECT l.bucket, l.lo, l.hi,
        |  CAST(c.cum - coalesce(lag(c.cum) OVER (ORDER BY l.bucket), 0)
        |    AS BIGINT) AS n_rows,
        |  n.n AS n_total
        |FROM lo l JOIN cum c ON l.hi = c.v CROSS JOIN n""".stripMargin,

    // q230: the draw chain (rolling fold → q206 avalanche → Poisson
    // inverse CDF on fixed micro thresholds) + per-replicate exact
    // means + discrete order-stat bounds, replayed verbatim
    "q230_bootstrap_ci" ->
      """WITH ev AS (
        |  SELECT CAST(event_id AS VARCHAR) AS id,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE event_type = 'purchase'),
        |ex AS (
        |  SELECT id, v, unnest(generate_series(0, 199)) AS r FROM ev),
        |h0 AS (
        |  SELECT v, r, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(
        |        id || ':' || CAST(r AS VARCHAR) || ':42', ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM ex),
        |h1 AS (SELECT v, r, (xor(h, h // 65536) * 73244475) % 4294967296 AS h FROM h0),
        |h2 AS (SELECT v, r, (xor(h, h // 65536) * 73244475) % 4294967296 AS h FROM h1),
        |h3 AS (SELECT v, r, xor(h, h // 65536) % 1000000 AS u FROM h2),
        |drawn AS (
        |  SELECT v, r, CASE
        |    WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1
        |    WHEN u < 919698 THEN 2 WHEN u < 981011 THEN 3
        |    WHEN u < 996340 THEN 4 WHEN u < 999405 THEN 5
        |    WHEN u < 999916 THEN 6 WHEN u < 999989 THEN 7
        |    WHEN u < 999998 THEN 8 ELSE 9 END AS m
        |  FROM h3),
        |reps AS (
        |  SELECT r, CAST(sum(m * v) AS BIGINT) // CAST(sum(m) AS BIGINT)
        |      AS mean
        |  FROM drawn GROUP BY r HAVING sum(m) > 0),
        |ranked AS (
        |  SELECT mean, row_number() OVER (ORDER BY mean) AS rk,
        |    count(*) OVER () AS nb
        |  FROM reps),
        |ci AS (
        |  SELECT CAST(max(nb) AS BIGINT) AS n_replicates,
        |    min(CASE WHEN rk * 40 >= nb THEN mean END) AS ci_lo_cents,
        |    min(CASE WHEN rk * 40 >= nb * 39 THEN mean END) AS ci_hi_cents
        |  FROM ranked),
        |pt AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(v) AS BIGINT) // count(*) AS point_mean_cents
        |  FROM ev)
        |SELECT n_rows, point_mean_cents, n_replicates, ci_lo_cents,
        |  ci_hi_cents
        |FROM pt CROSS JOIN ci""".stripMargin,

    // q231: the q60 split replay + one sufficient-stats aggregate +
    // the identical double expression tree
    "q231_cuped" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
        |      AS x,
        |    CAST(sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
        |      AS y
        |  FROM events GROUP BY 1),
        |h AS (
        |  SELECT x, y,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(
        |        CAST(user_id AS VARCHAR) || ':42', ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS hv
        |  FROM u),
        |arms AS (
        |  SELECT CASE WHEN hv % 1000000 < 500000 THEN 'a' ELSE 'b' END
        |    AS arm, x, y FROM h),
        |gstats AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM arms),
        |grp AS (
        |  SELECT arm, CAST(count(*) AS BIGINT) AS n_g,
        |    CAST(sum(x) AS BIGINT) AS sx_g, CAST(sum(y) AS BIGINT) AS sy_g
        |  FROM arms GROUP BY 1)
        |SELECT arm, n_g,
        |  round(CAST(sy_g AS DOUBLE) / CAST(n_g AS DOUBLE), 6) AS mean_y,
        |  round(
        |    CAST(sy_g AS DOUBLE) / CAST(n_g AS DOUBLE)
        |    - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
        |      * (CAST(sx_g AS DOUBLE) / CAST(n_g AS DOUBLE)
        |         - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS mean_y_adj,
        |  round(
        |    ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |     * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |       * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
        |    AS var_reduction
        |FROM grp CROSS JOIN gstats
        |ORDER BY arm""".stripMargin,

    // q232: rank = row_number over (score desc, doc_id) ≡ the
    // two-phase prefix rank; deciles by the exact DIV identity
    "q232_lift_table" ->
      s"""WITH base AS (
        |  SELECT doc_id, lang, text,
        |    regexp_split_to_array(trim(text), '\\s+') AS t
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id,
        |    CAST(round($QualityScoreSql * 1000000) AS BIGINT) AS s,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM base),
        |ranked AS (
        |  SELECT s, y, row_number() OVER (ORDER BY s DESC, doc_id) AS rk,
        |    count(*) OVER () AS n, sum(y) OVER () AS p
        |  FROM scored),
        |cells AS (
        |  SELECT (rk - 1) * 10 // n AS bucket,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(y) AS BIGINT) AS n_pos,
        |    CAST(max(n) AS BIGINT) AS n, CAST(max(p) AS BIGINT) AS p
        |  FROM ranked GROUP BY 1)
        |SELECT bucket, n_docs, n_pos,
        |  CAST(n_pos * 1000000 // n_docs AS BIGINT) AS rate_micro,
        |  CAST(CASE WHEN p > 0 THEN
        |    (sum(n_pos) OVER (ORDER BY bucket)) * n * 1000000
        |      // ((sum(n_docs) OVER (ORDER BY bucket)) * p) END
        |    AS BIGINT) AS cum_lift_micro
        |FROM cells""".stripMargin
  )

  /** The q23 language-ID replay projected to (gold, pred) — the
    * shared input of the confusion matrix (q152) and kappa (q154)
    * oracles.
    */
  private val LangIdPredSql =
    s"""WITH lbase AS (
      |  SELECT lang, text, regexp_split_to_array(trim(text), '\\s+') AS t
      |  FROM documents),
      |lscored AS (
      |  SELECT lang,
      |$langScoreCols
      |  FROM lbase)
      |SELECT lang AS gold,
      |  CASE
      |    WHEN score_fr > greatest(score_de, score_en, score_es) THEN 'fr'
      |    WHEN score_es > greatest(score_de, score_en) THEN 'es'
      |    WHEN score_en > score_de THEN 'en'
      |    ELSE 'de' END AS pred
      |FROM lscored""".stripMargin

  /** CTEs `per`, `terms`, `tot`, `core` and the final SELECT shared by the
    * q313 and q321 oracles.
    */
  private lazy val perToCoreTail: String =
    """per AS (
      |  SELECT g, CAST(count(*) AS BIGINT) AS ng,
      |    CAST(sum(v) AS BIGINT) AS sg
      |  FROM base GROUP BY g),
      |terms AS (
      |  SELECT sum((CAST(sg AS HUGEINT) * sg * 10000) // ng) AS sum_t,
      |    CAST(count(*) AS BIGINT) AS k
      |  FROM per),
      |tot AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(v) AS BIGINT) AS s,
      |    CAST(sum(v * v) AS BIGINT) AS q
      |  FROM base),
      |core AS (
      |  SELECT n, k,
      |    CAST(greatest(CAST(0 AS HUGEINT),
      |      sum_t - (CAST(s AS HUGEINT) * s * 10000) // n)
      |      AS BIGINT) AS ssb_q4,
      |    CAST(CAST(q AS HUGEINT) * 10000 - sum_t AS BIGINT)
      |      AS ssw_q4
      |  FROM terms, tot)
      |SELECT n AS n_rows, k AS k_groups, ssb_q4, ssw_q4,
      |  k - 1 AS df_between, n - k AS df_within,
      |  CASE WHEN k >= 2 AND n > k AND ssw_q4 > 0 THEN
      |    CAST((CAST(ssb_q4 AS HUGEINT) * (n - k) * 1000000)
      |      // (CAST(ssw_q4 AS HUGEINT) * (k - 1)) AS BIGINT)""".stripMargin

  /** CTEs `ranked`, `r2s` shared by the q316 and q329 oracles. */
  private lazy val kkToR2sCtes: String =
    s"""$kkToDrpCtes
      |ranked AS (
      |  SELECT b, tr, v,
      |    count(*) OVER (PARTITION BY b ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS cum,
      |    count(*) OVER (PARTITION BY b, v) AS t
      |  FROM complete),
      |r2s AS (
      |  SELECT b, tr, v, t,
      |    2 * (min(cum) OVER (PARTITION BY b, v) - 1) + t + 1 AS r2
      |  FROM ranked),""".stripMargin

  /** CTEs `c`, `counts`, `groups`, `pop`, `poptot`, `grid` shared by the
    * q108 and q111 oracles.
    */
  private lazy val cToGridCtes: String =
    """WITH c AS (
      |  SELECT source,
      |    least(CAST(len(regexp_split_to_array(trim(text), '\s+'))
      |      AS BIGINT) // 32, 15) AS b
      |  FROM documents),
      |counts AS (SELECT source, b, CAST(count(*) AS BIGINT) AS c
      |  FROM c GROUP BY 1, 2),
      |groups AS (SELECT source, CAST(sum(c) AS BIGINT) AS gt
      |  FROM counts GROUP BY 1),
      |pop AS (SELECT b, CAST(sum(c) AS BIGINT) AS pc FROM counts GROUP BY 1),
      |poptot AS (SELECT CAST(sum(pc) AS BIGINT) AS pt FROM pop),
      |grid AS (
      |  SELECT g.source, g.gt, CAST(i.range AS BIGINT) AS b
      |  FROM groups g, range(16) i),""".stripMargin

  /** CTEs `kk`, `sized`, `complete`, `drp` shared by the q316, q317 and
    * q329 oracles.
    */
  private lazy val kkToDrpCtes: String =
    """kk AS (SELECT CAST(count(DISTINCT tr) AS BIGINT) AS k
      |  FROM cells),
      |sized AS (SELECT b, CAST(count(*) AS BIGINT) AS m
      |  FROM cells GROUP BY b),
      |complete AS (
      |  SELECT c.* FROM cells c JOIN sized s ON c.b = s.b, kk
      |  WHERE s.m = kk.k),
      |drp AS (
      |  SELECT CAST(count(*) AS BIGINT) AS d
      |  FROM sized, kk WHERE m <> kk.k),""".stripMargin

  /** CTEs `docs`, `sides` shared by the q307 and q308 oracles. */
  private lazy val docsSidesCtes: String =
    """WITH docs AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS rt
      |  FROM documents),
      |sides AS (
      |  SELECT doc_id, rt,
      |    rt[(CAST(doc_id % 4 AS INT) + 1):] AS ct
      |  FROM docs),""".stripMargin

  /** CTEs `base`, `sc` shared by the q151 and q153 oracles. */
  private lazy val baseScCtes: String =
    s"""WITH base AS (
      |  SELECT lang, text, regexp_split_to_array(trim(text), '\\s+') AS t
      |  FROM documents),
      |sc AS (
      |  SELECT (lang = 'en') AS y,
      |    CAST(round($QualityScoreSql * 1000000) AS BIGINT) AS s
      |  FROM base),""".stripMargin
}
