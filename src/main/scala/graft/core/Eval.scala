package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classifier / filter evaluation operators — the measurement side of
  * the curation stack: every quality gate, language-ID heuristic or
  * learned classifier in the pipeline needs its accuracy AUDITED
  * against labels before it gates a 100 TB corpus.
  *
  * All four operators are exact-integer formulations (micro-scaled
  * BIGINT ratios, the q144 convention): sums are order-free across
  * partitions, every division is a single positive-integer `DIV` at
  * the end, so the DuckDB oracle replays them bit-for-bit — no float
  * reduction order, no transcendental, anywhere.
  *
  * Scale posture: each operator is one or two map-side-combinable
  * aggregations over the corpus; post-aggregate state is bounded by
  * the score grid (ROC — micro-rounded scores live on a ≤1.5M-value
  * lattice), the bin count (calibration), or the label alphabet
  * squared (confusion/kappa) — model-size tables, never corpus-size.
  */
object Eval {

  /** Max distinct values the rank-test lattice windows accept before
    * failing loudly — the single-partition prefix sum over the value
    * lattice is the deliberate trade of [[kruskalWallis]] (and the
    * rocAuc family): bounded-lattice state, zero corpus sort. 10M
    * distinct values ≈ a 160 MB single task — past that the input
    * needs quantizing, not a bigger window.
    */
  private val LatticeMax = 10000000L

  /** Max distinct groups the ordered-pair tests accept (pair count is
    * k²/2 pair-tagged lattices) — past this, bucket the group key.
    */
  private val GroupsMax = 1000L

  /** Loud BIGINT narrowing (SQL-string form, for `expr(...)`): with
    * ANSI off, Spark silently NULLs an overflowing DECIMAL→BIGINT
    * cast — this raises instead, so a corpus that outgrows an int64
    * output contract fails the job rather than shipping a silently
    * wrong statistic. The DuckDB oracles' HUGEINT→BIGINT casts error
    * loudly on the same input, so the two engines fail TOGETHER
    * (the Krippendorff-oracle lesson: a guard that is loud on one
    * engine and silent on the other is a latent divergence).
    */
  private def bigintLoud(x: String, what: String): String =
    s"""CASE WHEN abs($x) >
           CAST(9223372036854775807 AS DECIMAL(38, 0))
         THEN CAST(assert_true(false, '$what exceeds BIGINT')
           AS BIGINT)
         ELSE CAST($x AS BIGINT) END"""

  /** Loud BIGINT keying for an ordered-test key column: with ANSI off
    * a non-numeric group/treatment key silently casts to NULL,
    * collapsing every group into one NULL group and returning a
    * degenerate k=1 row instead of failing. This raises instead —
    * the [[GroupsMax]]/[[LatticeMax]] loud-guard discipline: the
    * ordering hypothesis must be ENCODED in a numeric key, never
    * inferred from a silent cast. Per-row, codegen'd, no extra pass.
    */
  private def loudLongKey(c: Column, op: String): Column =
    when(c.isNotNull && c.cast("long").isNull,
      raise_error(concat(lit(s"$op: non-numeric ordered key '"),
        c.cast("string"),
        lit("' — encode the intended order in a numeric key"))))
      .otherwise(c.cast("long"))

  /** SQL fragment: EXACT integer floor division num/den for num ≥ 0,
    * den > 0 — (num − pmod(num, den)) / den. The quotient is a true
    * integer, so DECIMAL division's scale-6 HALF_UP rounding can
    * never disagree with DuckDB's `//` (a bare floor(num/den) could
    * round num/den UP across the integer boundary once den exceeds
    * ~2e6). The k-group family's single shared division discipline.
    */
  private def exactDivSql(num: String, den: String): String =
    s"(($num) - pmod(($num), ($den))) / ($den)"

  /** Shared complete-block preamble of the block-design family
    * ([[friedman]]/[[pageTrend]]/[[cochranQ]]): cell aggregation +
    * per-block size window materialized ONCE into an eager
    * localCheckpoint (state = blocks × treatments rows — the test's
    * own state, never raw rows; every downstream consumer, including
    * the k/dropped driver actions, reads the checkpoint instead of
    * re-deriving the cells aggregation — ADVICE r14). Incomplete
    * blocks (a block missing ≥1 treatment) drop loudly into the
    * returned count.
    *
    * @param base (b, tr, …) projection of the raw events
    * @param cellAgg the per-(block, treatment) cell aggregate,
    *                emitted as column `v`
    * @return (complete cells (b, tr, v), k treatments, blocks dropped)
    */
  private def completeBlockCells(base: DataFrame, cellAgg: Column)
      : (DataFrame, Long, Long) = {
    val sized = Materialize.localCheckpoint(
      base.groupBy("b", "tr").agg(cellAgg.as("v"))
        .withColumn("__m", count(lit(1)).over(Window.partitionBy("b"))))
    val k = sized.select("tr").distinct().count()
    val dropped = sized.filter(col("__m") =!= k)
      .select("b").distinct().count()
    (sized.filter(col("__m") === k).drop("__m"), k, dropped)
  }

  /** DOUBLED within-block midranks over complete cells — the shared
    * rank device of [[friedman]]/[[pageTrend]]: r2 = 2·|{v' < v}| +
    * t + 1 from one block-partitioned window pair (per-block state =
    * k rows, bounded by the treatment count; `cum` at a tie group's
    * FIRST row is |{v' < v}| + 1). Ties carry the exact average rank
    * as an integer ×2 — no halves, no floats.
    */
  private def doubledBlockRanks(complete: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy("b").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val we = Window.partitionBy("b", "v")
    complete
      .withColumn("cum", count(lit(1)).over(wOrd))
      .withColumn("t", count(lit(1)).over(we))
      .withColumn("r2",
        lit(2L) * (min("cum").over(we) - lit(1L)) + col("t") + lit(1L))
  }

  /** Pooled within-block tie mass Σ(t³−t) over the ranked cells —
    * the correction ingredient [[friedman]]/[[pageTrend]] share.
    */
  private def blockTieMass(ranked: DataFrame): DataFrame =
    ranked.select(col("b"), col("v"), col("t"))
      .distinct()
      .agg(coalesce(sum(expr("t * t * t - t")), lit(0L)).as("t3"))

  /** Exact ROC-AUC of a BIGINT score against a boolean label, by
    * tied-pair counting: AUC = (#{pos > neg} + ½·#{pos = neg}) /
    * (n_pos·n_neg). One grouped aggregation collapses the corpus to
    * (score, n_pos, n_neg); a single ordered pass over that bounded
    * lattice accumulates, per score s, the negatives strictly below
    * (concordant pairs) and the negatives AT s (tied pairs, weight ½
    * carried as 2× integers).  Result: one row
    * (n_pos, n_neg, auc_micro).
    *
    * The global window orders the distinct-score table only — micro-
    * rounded scores are lattice-bounded regardless of corpus size, so
    * the single-partition sort is model-size state (the vocab-
    * numbering precedent), not a corpus sort. The `num2 * 1e6`
    * product stays under 2^63 through ~1.5M positives × negatives;
    * beyond that the same sums feed a DECIMAL(38) division.
    */
  def rocAuc(df: DataFrame, scoreMicro: Column, label: Column): DataFrame = {
    val byScore = df
      .select(scoreMicro.cast("long").as("s"), label.as("y"))
      .groupBy("s")
      .agg(
        sum(when(col("y"), 1L).otherwise(0L)).as("np"),
        sum(when(col("y"), 0L).otherwise(1L)).as("nn"))
    val below = Window.orderBy("s")
      .rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .withColumn("cum_nn", coalesce(sum("nn").over(below), lit(0L)))
      .agg(
        sum("np").as("n_pos"),
        sum("nn").as("n_neg"),
        sum(expr("2 * np * cum_nn + np * nn")).as("num2"))
      .select(col("n_pos"), col("n_neg"),
        // single-class input (n_pos or n_neg = 0) leaves AUC undefined:
        // emit an explicit NULL instead of a silent ANSI-dependent
        // div-by-zero (null with ANSI off, exception with it on).
        // num2·1e6 goes through DECIMAL(38,0) — BIGINT wraps silently
        // once ~4.3M balanced rows put num2 past 9.2e12; IntegralDivide
        // keeps the output BIGINT either way.
        expr("""CASE WHEN n_pos > 0 AND n_neg > 0
                THEN CAST(num2 AS DECIMAL(38,0)) * 1000000
                     DIV (2 * n_pos * n_neg) END""")
          .as("auc_micro"))
  }

  /** Per-group exact ROC-AUC — [[rocAuc]] sliced by a group column
    * (per language, per source, per experiment arm): the fairness /
    * slice-regression audit a corpus-wide AUC hides (a classifier can
    * hold 0.9 overall while collapsing to coin-flip on one language).
    * Identical tied-pair arithmetic per group; single-class groups get
    * an explicit NULL like the global operator.
    *
    * Scale shape: one (group, score) aggregation collapses the corpus;
    * the cumulative window is PARTITIONED by group over each group's
    * micro-score lattice (model-size per group — never a global sort),
    * and one grouped aggregation finishes. Group count only widens the
    * shuffle, never deepens it.
    */
  def rocAucBy(df: DataFrame, group: Column, scoreMicro: Column,
               label: Column): DataFrame = {
    val byScore = df
      .select(group.as("grp"), scoreMicro.cast("long").as("s"),
        label.as("y"))
      .groupBy("grp", "s")
      .agg(
        sum(when(col("y"), 1L).otherwise(0L)).as("np"),
        sum(when(col("y"), 0L).otherwise(1L)).as("nn"))
    val below = Window.partitionBy("grp").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .withColumn("cum_nn", coalesce(sum("nn").over(below), lit(0L)))
      .groupBy("grp")
      .agg(
        sum("np").as("n_pos"),
        sum("nn").as("n_neg"),
        sum(expr("2 * np * cum_nn + np * nn")).as("num2"))
      .select(col("grp"), col("n_pos"), col("n_neg"),
        // same DECIMAL(38,0) widening as the global rocAuc: one group
        // with ~4.3M balanced rows would wrap num2·1e6 in BIGINT
        expr("""CASE WHEN n_pos > 0 AND n_neg > 0
                THEN CAST(num2 AS DECIMAL(38,0)) * 1000000
                     DIV (2 * n_pos * n_neg) END""")
          .as("auc_micro"))
  }

  /** Reliability (calibration) bins: the score axis [lo, hi] (micro
    * units) split into `nBins` equal cells, per cell the doc count,
    * positive count, exact positive rate and the score mass — the
    * table a calibration curve is drawn from. Scores at the top edge
    * fold into the last bin (right-closed), matching every plotting
    * convention; scores below `loMicro` symmetrically fold into bin 0,
    * so every input row lands in exactly one of the nBins cells.
    * ONE aggregation; nBins rows out.
    */
  def calibrationBins(df: DataFrame, scoreMicro: Column, label: Column,
                      loMicro: Long, hiMicro: Long, nBins: Int): DataFrame = {
    val width = (hiMicro - loMicro) / nBins
    require(width > 0 && (hiMicro - loMicro) % nBins == 0,
      s"[$loMicro,$hiMicro] must split evenly into $nBins bins")
    df.select(scoreMicro.cast("long").as("s"), label.as("y"))
      .withColumn("bin",
        expr(s"greatest(least((s - (${loMicro}L)) DIV ${width}L, ${nBins - 1}L), 0L)"))
      .groupBy("bin")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("y"), 1L).otherwise(0L)).as("n_pos"),
        sum("s").as("sum_score_micro"))
      .withColumn("pos_rate_micro", expr("n_pos * 1000000 DIV n_docs"))
      .select(col("bin"), col("n_docs"), col("n_pos"),
        col("pos_rate_micro"), col("sum_score_micro"))
  }

  /** Confusion matrix of a categorical prediction against gold
    * labels: observed (gold, pred) cells with counts, the gold-class
    * total and the exact per-cell recall share. Sparse (only observed
    * cells), bounded by the label alphabet squared. One corpus
    * aggregation + one window over the cell table.
    */
  def confusion(df: DataFrame, gold: Column, pred: Column): DataFrame = {
    val cells = df.select(gold.as("gold"), pred.as("pred"))
      .groupBy("gold", "pred")
      .agg(count(lit(1)).as("n_docs"))
    val perGold = Window.partitionBy("gold")
    cells
      .withColumn("gold_total", sum("n_docs").over(perGold))
      .withColumn("share_micro", expr("n_docs * 1000000 DIV gold_total"))
      .select(col("gold"), col("pred"), col("n_docs"),
        col("gold_total"), col("share_micro"))
  }

  /** Two-proportion z-test — the A/B experiment readout: given a
    * two-armed variant column and a boolean success flag, one
    * aggregation collapses the corpus to four exact BIGINTs
    * (n/successes per arm) and the pooled z statistic
    *   z = (p_a − p_b) / √(p̂(1−p̂)(1/n_a + 1/n_b))
    * is ONE fixed float expression over them at the very end. Every
    * float op in the tree (÷, −, +, ×, √) is IEEE-correctly-rounded,
    * so an external engine evaluating the SAME expression tree over
    * the same integers reproduces the double bit-for-bit — the q111
    * KS discipline. `significant` applies the two-sided 5% bound.
    * Arms with zero rows leave z NULL (explicitly, not via ANSI
    * div-by-zero — the rocAuc convention).
    */
  def twoProportionZ(df: DataFrame, variant: Column, success: Column,
                     armA: String, armB: String): DataFrame =
    df.select(variant.as("arm"), success.as("y"))
      .filter(col("arm").isin(armA, armB))
      .agg(
        sum(when(col("arm") === armA, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === armA && col("y"), 1L).otherwise(0L)).as("x_a"),
        sum(when(col("arm") === armB, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === armB && col("y"), 1L).otherwise(0L)).as("x_b"))
      .select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
        expr("""CASE WHEN n_a > 0 AND n_b > 0
                  AND x_a + x_b > 0 AND x_a + x_b < n_a + n_b
                THEN round(
                  (CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                   - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                  / sqrt((CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                    * (1.0 - CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                    * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6)
                END""").as("z"))
      .withColumn("significant",
        col("z").isNotNull && abs(col("z")) > lit(1.959964))

  /** Poisson(1) CDF on the micro lattice — the inverse-CDF table the
    * Poisson bootstrap draws from. Fixed literals on both engines.
    */
  private val PoissonMicroCdf: Seq[Long] = Seq(367879L, 735758L, 919698L,
    981011L, 996340L, 999405L, 999916L, 999989L, 999998L)

  /** Poisson bootstrap confidence interval for a mean — the
    * distributed bootstrap (no resample materialization, no
    * multinomial coordination): every row gets an independent
    * Poisson(1) multiplicity PER REPLICATE from a deterministic
    * avalanched hash of (id, replicate, seed), so replicate r's mean
    * is Σ m·v DIV Σ m on the exact cents lattice and the whole thing
    * replays in SQL. The draw goes through the q206 avalanche — the
    * raw rolling fold is AFFINE in the replicate suffix (the q159
    * epoch-correlation bug class), which would correlate replicates
    * and collapse the interval.
    *
    * CI bounds are discrete order statistics over the B replicate
    * means (value at ceil(p·B), the q142 convention). One exploded
    * aggregation (rows × B, map-side combinable to B rows) + a B-row
    * rank — B is fixed and small, so state is model-size.
    */
  def bootstrapCi(df: DataFrame, id: Column, valueCents: Column,
                  b: Int = 200, seed: Long = 42L): DataFrame = {
    require(b >= 40, "need enough replicates for a 2.5% tail")
    // Fanout: the b-way explode + per-draw portable hash is the cost
    // center and runs BEFORE the first exchange — on a one-row-group
    // scan it would serialize on one core (guide §2.5; no-op at scale)
    val rows = Fanout.ensure(df.select(id.cast("string").as("__id"),
      valueCents.cast("long").as("__v")))
    val drawn = rows
      .select(col("__id"), col("__v"),
        explode(sequence(lit(0), lit(b - 1))).as("__r"))
      .withColumn("__u", pmod(Sketches.mix32(TextAnalysis.rollingHash(
        concat(col("__id"), lit(":"), col("__r").cast("string"),
          lit(":"), lit(seed.toString)))), lit(1000000L)))
      .withColumn("__m", PoissonMicroCdf.zipWithIndex.foldRight(
        lit(PoissonMicroCdf.size.toLong)) { case ((thr, k), acc) =>
        when(col("__u") < thr, k.toLong).otherwise(acc)
      })
    val reps = drawn.groupBy("__r")
      .agg(sum(expr("__m * __v")).as("__s"), sum("__m").as("__c"))
      .filter(col("__c") > 0)
      .withColumn("__mean", expr("__s DIV __c"))
    val wr = Window.orderBy("__mean") // B rows: model-size state
    val ranked = reps.withColumn("__rk", row_number().over(wr))
      .crossJoin(broadcast(reps.agg(count(lit(1)).as("__nb"))))
    val point = df.select(valueCents.cast("long").as("__v"))
      .agg(count(lit(1)).as("n_rows"),
        expr("sum(__v) DIV count(*)").as("point_mean_cents"))
    val ci = ranked.agg(
      max("__nb").as("n_replicates"),
      min(when(expr("__rk * 40 >= __nb"), col("__mean")))
        .as("ci_lo_cents"),
      min(when(expr("__rk * 40 >= __nb * 39"), col("__mean")))
        .as("ci_hi_cents"))
    point.crossJoin(broadcast(ci))
  }

  /** CUPED variance reduction (Deng et al., WSDM'13): the pooled
    * regression adjustment θ = cov(x,y)/var(x) from EXACT integer
    * sufficient statistics (one corpus aggregation), applied to each
    * arm's mean:  mean_adj = mean_y − θ·(mean_x − mean_x_pooled).
    * The float work is one fixed expression tree over the exact sums
    * — products evaluated in DOUBLE (n·Σxy at corpus scale would
    * overflow BIGINT; the double tree is deterministic on both
    * engines). Also reports ρ² (the variance fraction CUPED removes).
    * Output: one row per arm.
    */
  def cuped(df: DataFrame, variant: Column, xCents: Column, yCents: Column,
            armA: String, armB: String): DataFrame = {
    val rows = df.select(variant.as("arm"), xCents.cast("long").as("x"),
        yCents.cast("long").as("y"))
      .filter(col("arm").isin(armA, armB))
    val glob = rows.agg(count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"),
      sum(expr("y * y")).as("syy"))
    val arms = rows.groupBy("arm").agg(count(lit(1)).as("n_g"),
      sum("x").as("sx_g"), sum("y").as("sy_g"))
    arms.crossJoin(broadcast(glob))
      .select(col("arm"), col("n_g"),
        expr("round(CAST(sy_g AS DOUBLE) / CAST(n_g AS DOUBLE), 6)")
          .as("mean_y"),
        expr("""round(
            CAST(sy_g AS DOUBLE) / CAST(n_g AS DOUBLE)
            - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
              * (CAST(sx_g AS DOUBLE) / CAST(n_g AS DOUBLE)
                 - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 6)""")
          .as("mean_y_adj"),
        expr("""round(
            ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
            / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)""")
          .as("var_reduction"))
  }

  /** Decile lift table — the model-evaluation report next to ROC
    * (q151) and calibration (q153): corpus ranked by score (a global
    * [[PrefixScan]] row rank, never a single-partition window), split
    * into `nBuckets` by the exact (rank−1)·k DIV n identity, per
    * bucket the positive rate and CUMULATIVE lift vs the base rate —
    * all BIGINT. The "how deep can the classifier cut" number a
    * curation gate ships with.
    */
  def liftTable(df: DataFrame, idCol: String, scoreMicro: Column,
                label: Column, nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 2, "liftTable needs at least 2 buckets")
    val scored = df.select(col(idCol), scoreMicro.cast("long").as("__s"),
        when(label, 1L).otherwise(0L).as("__y"))
    // `cells` is nBuckets rows — materialize it eagerly so the
    // prefix scan's internal persists can be RELEASED here instead of
    // leaking for the session lifetime (long-lived library callers).
    val cellsMat = Materialize.scope {
      val ranked = PrefixScan(scored, Seq(col("__s").desc, col(idCol).asc),
        PrefixScan.RowRank("__r")).rows
      val tot = ranked.agg(max("__r").as("__n"), sum("__y").as("__p"))
      Materialize.localCheckpoint(ranked.crossJoin(broadcast(tot))
        .withColumn("bucket", expr(s"(__r - 1) * $nBuckets DIV __n"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), sum("__y").as("n_pos"),
          max("__n").as("__n"), max("__p").as("__p")))
    }
    val wc = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, 0) // nBuckets rows
    cellsMat
      .withColumn("cum_n", sum("n_docs").over(wc))
      .withColumn("cum_pos", sum("n_pos").over(wc))
      .select(col("bucket"), col("n_docs"), col("n_pos"),
        expr("n_pos * 1000000 DIV n_docs").as("rate_micro"),
        // DECIMAL(38,0) intermediates: cum_pos·__n·1e6 wraps in BIGINT
        // once docs×positives reach ~1e13 (DuckDB's HUGEINT doesn't);
        // decimal math keeps exactness to ~1e32 and IntegralDivide
        // still returns BIGINT, so schema and oracle hash are unchanged.
        expr("""CASE WHEN __p > 0 THEN
                  CAST(cum_pos AS DECIMAL(38,0)) * __n * 1000000
                  DIV (CAST(cum_n AS DECIMAL(38,0)) * __p) END""")
          .as("cum_lift_micro"))
  }

  /** One-way ANOVA F statistic across groups — the k-armed extension
    * of the two-proportion z-test (q223): does the metric's MEAN
    * differ across event types / experiment arms / sources more than
    * within-group variance explains?
    *
    *   SSB = Σ_g s_g²/n_g − S²/N,   SSW = Σ_g q_g − Σ_g s_g²/n_g
    *   F   = (SSB/(k−1)) / (SSW/(N−k))
    *
    * Determinism discipline: the corpus collapses to exact BIGINT
    * sufficient statistics per group (n, Σcents, Σcents²); each
    * group's s²/n contribution is micro-rounded to a BIGINT in
    * DOLLARS² (cents² overflows micro fixed point at production sums)
    * so the cross-group sum is order-free, and F is ONE fixed float
    * expression over BIGINTs at the very end — replayable bit-for-bit.
    *
    * Scale shape: one map-side-combinable aggregation over the corpus;
    * everything after runs on the k-row group table. Output: one row
    * (n_groups, n_rows, ssb_micro, ssw_micro, f_value).
    */
  def anovaF(df: DataFrame, group: Column, valueCents: Column): DataFrame = {
    // Σv² accumulates in DECIMAL(38,0): BIGINT wraps silently at
    // production sums (~1e9 rows of ~1e5-cent values ⇒ Σv² ~ 1e19)
    val g = df.select(group.as("g"), valueCents.cast("long").as("v"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"), sum("v").as("s"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("q"))
      .withColumn("contrib_micro",
        expr("""CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                / (CAST(n AS DOUBLE) * 10000.0) * 1000000.0) AS BIGINT)"""))
    g.agg(
        count(lit(1)).as("n_groups"),
        sum("n").as("n_rows"),
        sum("s").as("st"),
        sum("q").as("qt"),
        sum("contrib_micro").as("cm"))
      .select(col("n_groups"), col("n_rows"),
        expr("""cm - CAST(round(CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
                / (CAST(n_rows AS DOUBLE) * 10000.0) * 1000000.0)
                AS BIGINT)""").as("ssb_micro"),
        // qt is DECIMAL(38,0) now; the final BIGINT cast is guarded so
        // an out-of-range SSW fails LOUDLY instead of nulling silently
        expr("""CASE WHEN abs(qt * 100 - cm) >
                     CAST(9223372036854775807 AS DECIMAL(38,0))
                THEN CAST(assert_true(false,
                  'anovaF: ssw_micro exceeds BIGINT range') AS BIGINT)
                ELSE CAST(qt * 100 - cm AS BIGINT) END""").as("ssw_micro"))
      .select(col("n_groups"), col("n_rows"), col("ssb_micro"),
        col("ssw_micro"),
        expr("""CASE WHEN n_groups > 1 AND n_rows > n_groups
                  AND ssw_micro > 0 THEN
                round((CAST(ssb_micro AS DOUBLE) / (n_groups - 1))
                      / (CAST(ssw_micro AS DOUBLE) / (n_rows - n_groups)),
                      6) END""").as("f_value"))
  }

  /** Difference-in-differences — the workhorse causal estimate when an
    * experiment can't randomize: compare the treated group's pre→post
    * metric change against the control group's change over the same
    * window, so any shared time trend cancels:
    *
    *   DiD = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre)
    *
    * with SE = sqrt(Σ_cell s²_cell / n_cell) (Welch-style, four
    * independent cells).
    *
    * Determinism discipline: one map-side-combinable aggregation
    * collapses the corpus to exact BIGINT sufficient statistics per
    * cell (n, Σcents, Σcents²); the estimate and its SE are each ONE
    * fixed float expression over those BIGINTs, reported micro-rounded
    * in dollars. Any empty cell → NULL estimate (no div blow-up).
    *
    * Scale shape: a 4-group aggregation with map-side combine, then
    * constant-size algebra. Output: one row with the four cells'
    * (n, sum-cents) plus did_micro / se_micro.
    */
  def diffInDiff(df: DataFrame, treated: Column, post: Column,
                 valueCents: Column): DataFrame = {
    val cells = df
      .select(treated.cast("int").as("t"), post.cast("int").as("p"),
        valueCents.cast("long").as("v"))
      .groupBy("t", "p")
      // Σv² in DECIMAL(38,0) — same silent-BIGINT-wrap class as anovaF;
      // downstream only reads q through CAST(... AS DOUBLE), so the
      // widening changes no output schema
      .agg(count(lit(1)).as("n"), sum("v").as("s"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("q"))
    def cell(t: Int, p: Int, c: String, as: String) =
      sum(when(col("t") === t && col("p") === p, col(c))).as(as)
    cells.agg(
        cell(0, 0, "n", "n_c0"), cell(0, 0, "s", "s_c0"), cell(0, 0, "q", "q_c0"),
        cell(0, 1, "n", "n_c1"), cell(0, 1, "s", "s_c1"), cell(0, 1, "q", "q_c1"),
        cell(1, 0, "n", "n_t0"), cell(1, 0, "s", "s_t0"), cell(1, 0, "q", "q_t0"),
        cell(1, 1, "n", "n_t1"), cell(1, 1, "s", "s_t1"), cell(1, 1, "q", "q_t1"))
      .select(col("n_c0"), col("s_c0"), col("n_c1"), col("s_c1"),
        col("n_t0"), col("s_t0"), col("n_t1"), col("s_t1"),
        // micro-dollars: mean cents / 100 * 1e6 = * 10000
        expr("""CASE WHEN n_c0 > 0 AND n_c1 > 0 AND n_t0 > 0 AND n_t1 > 0
                THEN CAST(round(
                  (CAST(s_t1 AS DOUBLE) / n_t1 - CAST(s_t0 AS DOUBLE) / n_t0
                 - CAST(s_c1 AS DOUBLE) / n_c1 + CAST(s_c0 AS DOUBLE) / n_c0)
                  * 10000.0) AS BIGINT) END""").as("did_micro"),
        expr("""CASE WHEN n_c0 > 1 AND n_c1 > 1 AND n_t0 > 1 AND n_t1 > 1
                THEN CAST(round(sqrt(
                  (CAST(q_t1 AS DOUBLE) - CAST(s_t1 AS DOUBLE) * s_t1 / n_t1)
                    / (n_t1 - 1) / n_t1
                + (CAST(q_t0 AS DOUBLE) - CAST(s_t0 AS DOUBLE) * s_t0 / n_t0)
                    / (n_t0 - 1) / n_t0
                + (CAST(q_c1 AS DOUBLE) - CAST(s_c1 AS DOUBLE) * s_c1 / n_c1)
                    / (n_c1 - 1) / n_c1
                + (CAST(q_c0 AS DOUBLE) - CAST(s_c0 AS DOUBLE) * s_c0 / n_c0)
                    / (n_c0 - 1) / n_c0)
                  * 10000.0) AS BIGINT) END""").as("se_micro"))
  }

  /** Mutual information between two BOUNDED-cardinality categorical
    * columns (feature vs label, source vs language, type vs weekday) —
    * the feature-selection staple:
    *
    *   MI = Σ_{x,y} p(x,y) · ln( p(x,y) / (p(x)·p(y)) )   [nats]
    *
    * Determinism discipline: the corpus collapses to exact BIGINT
    * cell counts first; each cell's contribution is ONE fixed float
    * expression micro-rounded to a BIGINT, so the cross-cell sum is
    * order-free. Zero cells contribute nothing (the 0·ln0 = 0 limit is
    * the absent-row case by construction).
    *
    * Scale shape: one map-side-combinable (x, y) aggregation over the
    * corpus; everything after runs on the k_x·k_y-row grid — the
    * marginal windows below are grid-bounded (feature-cardinality²,
    * NOT data-bounded), the same bounded-global-window discipline as
    * the ROC score lattice. Do not point this at an unbounded key.
    *
    * Output: one row (n_rows, n_cells, mi_micro) — mi_micro is MI in
    * micro-nats.
    */
  def mutualInformation(df: DataFrame, x: Column, y: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grid = df.select(x.as("x"), y.as("y"))
      .groupBy("x", "y")
      .agg(count(lit(1)).as("nxy"))
    // grid-bounded windows: |grid| = k_x * k_y (documented contract)
    val cells = grid
      .withColumn("nx", sum("nxy").over(Window.partitionBy("x")))
      .withColumn("ny", sum("nxy").over(Window.partitionBy("y")))
      .withColumn("nn", sum("nxy").over(Window.partitionBy()))
      .withColumn("contrib_micro",
        expr("""CAST(round(CAST(nxy AS DOUBLE) / nn
                * ln(CAST(nxy AS DOUBLE) * nn
                     / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)))
                * 1000000.0) AS BIGINT)"""))
    cells.agg(
      max("nn").as("n_rows"),
      count(lit(1)).as("n_cells"),
      sum("contrib_micro").as("mi_micro"))
  }

  /** Pearson chi-square test of independence over the same
    * bounded-cardinality categorical grid as [[mutualInformation]],
    * plus Cramér's V (the [0,1]-normalized effect size):
    *
    *   chi2 = Σ_{x,y} (O_xy − E_xy)² / E_xy,   E_xy = n_x·n_y / n
    *   V    = sqrt( chi2 / (n · min(k_x−1, k_y−1)) )
    *
    * Unlike MI, ZERO cells contribute (O=0 ⇒ (0−E)²/E = E), so the
    * grid is completed to the full k_x×k_y cross product before
    * scoring — the cross join is of the two DISTINCT-value tables
    * (model-size, the documented bounded-grid contract; do not point
    * this at an unbounded key).
    *
    * Determinism discipline: the corpus collapses to exact BIGINT
    * marginals; each cell's contribution is ONE fixed float tree
    * micro-rounded to BIGINT so the cross-cell sum is order-free; V is
    * one more fixed float tree over BIGINTs. dof = 0 (a single row or
    * column) yields NULL chi2/V.
    *
    * Output: one row (n_rows, k_x, k_y, dof, chi2_micro, cramers_v).
    */
  def chiSquare(df: DataFrame, x: Column, y: Column): DataFrame = {
    val grid = df.select(x.as("x"), y.as("y"))
      .groupBy("x", "y")
      .agg(count(lit(1)).as("nxy"))
    val xs = grid.groupBy("x").agg(sum("nxy").as("nx"))
    val ys = grid.groupBy("y").agg(sum("nxy").as("ny"))
    val tot = grid.agg(sum("nxy").as("nn"),
      countDistinct("x").as("kx"), countDistinct("y").as("ky"))
    val full = xs.crossJoin(ys) // k_x × k_y, model-size by contract
      .join(grid, Seq("x", "y"), "left")
      .na.fill(0L, Seq("nxy"))
      .crossJoin(broadcast(tot))
      .withColumn("contrib_micro",
        expr("""CAST(round(
                (CAST(nxy AS DOUBLE) - CAST(nx AS DOUBLE) * ny / nn)
                * (CAST(nxy AS DOUBLE) - CAST(nx AS DOUBLE) * ny / nn)
                / (CAST(nx AS DOUBLE) * ny / nn)
                * 1000000.0) AS BIGINT)"""))
    full.agg(
        max("nn").as("n_rows"),
        max("kx").as("k_x"), max("ky").as("k_y"),
        sum("contrib_micro").as("chi2_micro"))
      .select(col("n_rows"), col("k_x"), col("k_y"),
        expr("(k_x - 1) * (k_y - 1)").as("dof"),
        expr("CASE WHEN (k_x - 1) * (k_y - 1) > 0 THEN chi2_micro END")
          .as("chi2_micro"),
        expr("""CASE WHEN (k_x - 1) * (k_y - 1) > 0 THEN
                round(sqrt(CAST(chi2_micro AS DOUBLE) / 1000000.0
                  / (CAST(n_rows AS DOUBLE) * least(k_x - 1, k_y - 1))), 6)
                END""").as("cramers_v"))
  }

  /** Wald's Sequential Probability Ratio Test replayed per key — the
    * early-stopping experiment monitor (stop an A/B arm as soon as the
    * evidence crosses a boundary instead of waiting for a fixed n):
    * H0: p = p0 vs H1: p = p1 over an ordered Bernoulli stream,
    *
    *   LLR_n = Σ_{i≤n} [ s_i·ln(p1/p0) + (1−s_i)·ln((1−p1)/(1−p0)) ]
    *   accept H1 at the first LLR ≥ ln((1−β)/α);
    *   accept H0 at the first LLR ≤ ln(β/(1−α)).
    *
    * Determinism discipline: the two per-observation increments and
    * the two boundaries are micro-rounded to BIGINT on the driver
    * (four literals), so the running LLR is an exact integer window
    * sum and every crossing decision is integer comparison —
    * engine-replayable with no float anywhere.
    *
    * Scale shape: ONE key-partitioned ordered window (the
    * sessionization exchange) + one grouped aggregation; per-key state
    * is the running sum. `order` must be a total order within keys.
    *
    * Output per key: (n_obs, n_success, decision 'h0'/'h1'/'continue',
    * n_at_decision — observations consumed when the boundary was first
    * crossed, NULL if never — and llr_final_micro).
    */
  def sprt(df: DataFrame, key: Column, order: Seq[Column], success: Column,
           p0: Double, p1: Double, alpha: Double = 0.05,
           beta: Double = 0.05): DataFrame = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p0 != p1,
      "p0/p1 must be distinct probabilities in (0,1)")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      "alpha/beta in (0,1)")
    val incS = math.round(math.log(p1 / p0) * 1e6)
    val incF = math.round(math.log((1.0 - p1) / (1.0 - p0)) * 1e6)
    val lo = math.round(math.log(beta / (1.0 - alpha)) * 1e6)
    val hi = math.round(math.log((1.0 - beta) / alpha) * 1e6)
    val w = Window.partitionBy(col("k")).orderBy(order: _*)
    val walked = df
      .select((Seq(key.as("k"), success.as("s")) ++ order): _*)
      .withColumn("llr", sum(
        when(col("s"), lit(incS)).otherwise(lit(incF)))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("verdict",
        when(col("llr") <= lo, "h0").when(col("llr") >= hi, "h1"))
    walked.groupBy(col("k").as("key"))
      .agg(
        count(lit(1)).as("n_obs"),
        sum(when(col("s"), 1L).otherwise(0L)).as("n_success"),
        min(when(col("verdict").isNotNull,
          struct(col("rn"), col("verdict")))).as("first_cross"))
      .select(col("key"), col("n_obs"), col("n_success"),
        coalesce(col("first_cross.verdict"), lit("continue"))
          .as("decision"),
        col("first_cross.rn").as("n_at_decision"),
        (col("n_success") * incS + (col("n_obs") - col("n_success")) * incF)
          .as("llr_final_micro"))
  }

  /** One-way ANOVA — the k-group mean-difference test the experiment
    * stack lacked between the two-arm z/t shapes (q223) and the
    * rank-based Mann–Whitney: F = (SSB/(k−1)) / (SSW/(n−k)) over a
    * BIGINT-quantized value column. EXACT-integer discipline
    * throughout: with per-group (n_g, S_g = Σv) and global
    * (n, S, Q = Σv²), the computational identities
    *
    *   SSB = Σ_g S_g²/n_g − S²/n,   SSW = Q − Σ_g S_g²/n_g
    *
    * need only the quotients S_g²·10⁴ DIV n_g — computed in
    * DECIMAL(38,0) so the square never overflows (S_g² alone passes
    * 2⁶³ at corpus scale), floored to the q4 (1e4) lattice per-TERM
    * so the sums are order-free and replay exactly in SQL (the PSI
    * discipline; DuckDB runs the same divisions in HUGEINT — the
    * Spark side uses the exact (x − pmod(x, b))/b form so decimal
    * rounding can never disagree with an integer DIV). Per-term
    * flooring can push a true-zero SSB a few quanta negative —
    * clamped to 0 on both sides. F itself is one final integer
    * division on the floored quantities
    * (ssb_q4·(n−k)·10⁶ DIV (ssw_q4·(k−1))). The raw accumulations
    * Σv and Σv² ALSO run in DECIMAL(38,0) — at the same scale where
    * S_g² passes 2⁶³ so does Q — and the BIGINT output columns
    * (ssb_q4/ssw_q4) are loud-guarded casts: an input whose sums of
    * squares genuinely exceed int64 raises on BOTH engines
    * (assert_true here, HUGEINT→BIGINT cast error in DuckDB) instead
    * of wrapping silently.
    *
    * Plan: one map-side-combinable grouped agg (k rows) + one global
    * agg + a broadcast cross — raw rows are read ONCE and never
    * shuffle beyond the k-row partial-agg exchange; nothing here
    * grows with anything but k.
    *
    * Output: one row — (n_rows, k_groups, ssb_q4, ssw_q4, df_between,
    * df_within, f_micro); f_micro NULL when k < 2, n ≤ k, or
    * SSW = 0 (all within-group values identical).
    */
  def anovaOneWay(df: DataFrame, groupCol: Column,
                  valueCol: Column): DataFrame = {
    val base = df.select(groupCol.as("g"), valueCol.cast("long").as("v"))
    val per = base.groupBy("g").agg(
      count(lit(1)).as("ng"),
      sum(col("v").cast("decimal(38,0)")).as("sg"))
    // every division is the [[exactDivSql]] exact-integer form
    val terms = per.select(
      expr(s"""CAST(${exactDivSql(
          "CAST(sg AS DECIMAL(38, 0)) * sg * 10000", "ng")}
              AS DECIMAL(38, 0))""").as("t"))
      .agg(sum("t").as("sum_t"), count(lit(1)).as("k"))
    // Σv and Σv² accumulate in DECIMAL(38,0), not BIGINT: at the
    // corpus scale where S_g² passes 2⁶³ (the scaladoc's own
    // envelope), Σv² does too — a BIGINT sum would wrap SILENTLY
    // under ANSI-off while the DuckDB oracle sums in HUGEINT
    // (ADVICE r14). The BIGINT output columns below are loud-guarded.
    val glob = base.agg(count(lit(1)).as("n"),
      sum(col("v").cast("decimal(38,0)")).as("s"),
      sum(expr("CAST(v AS DECIMAL(38, 0)) * v")).as("q"))
    terms.crossJoin(broadcast(glob))
      .select(col("n").as("n_rows"), col("k").as("k_groups"),
        expr(bigintLoud(
          s"""greatest(CAST(0 AS DECIMAL(38, 0)), sum_t -
                CAST(${exactDivSql(
                  "CAST(s AS DECIMAL(38, 0)) * s * 10000", "n")}
                  AS DECIMAL(38, 0)))""",
          "anovaOneWay: ssb_q4")).as("ssb_q4"),
        expr(bigintLoud(
          "CAST(q AS DECIMAL(38, 0)) * 10000 - sum_t",
          "anovaOneWay: ssw_q4")).as("ssw_q4"),
        expr("k - 1").as("df_between"),
        expr("n - k").as("df_within"))
      .withColumn("f_micro", expr(
        s"""CASE WHEN k_groups >= 2 AND n_rows > k_groups
                 AND ssw_q4 > 0 THEN
             CAST(${exactDivSql(
               "CAST(ssb_q4 AS DECIMAL(38, 0)) * df_within * 1000000",
               "CAST(ssw_q4 AS DECIMAL(38, 0)) * df_between")}
               AS BIGINT)
           END"""))
  }

  /** Brown–Forsythe test — the k-group VARIANCE-homogeneity test
    * completing the family around [[anovaOneWay]] (whose F assumes
    * equal within-group variances — this is the test of that
    * assumption, and a dispersion comparison in its own right: did
    * the new data mix change score SPREAD even where means held?):
    * the Levene (1960) statistic with Brown & Forsythe's (1974)
    * robust MEDIAN centering, W = the one-way ANOVA F computed on
    * the absolute deviations z_ij = |v_ij − median(group j)|.
    *
    * EXACT throughout via DOUBLED deviations: the group median of an
    * even-sized group is the average of two order statistics — a
    * half-integer — so the deviations fed to the F are
    * z2 = |2·v − med2_g| with med2_g = x_(⌈n/2⌉) + x_(⌊n/2⌋+1)
    * (always an integer), and F is invariant under scaling all
    * values by 2, so W on z2 IS W on z. The ssb_q4/ssw_q4 columns
    * are therefore 4× the undoubled sums of squares (documented,
    * consistent on both engines). Medians come from per-GROUP value
    * lattices: grouped (g, v) counts, a g-partitioned cumulative
    * window (per-partition state = the group's own lattice, never a
    * global sort — the [[mannWhitneyU]] shape), and
    * x_(i) = min { v : #{≤ v} ≥ i }. Everything downstream is
    * [[anovaOneWay]] verbatim — same decimal discipline, same loud
    * guards, bit-for-bit SQL replay.
    *
    * Output: one row — (n_rows, k_groups, ssb_q4, ssw_q4,
    * df_between, df_within, w_micro); w_micro NULL under
    * [[anovaOneWay]]'s degeneracies (k < 2, n ≤ k, or all
    * within-group deviations identical).
    */
  def brownForsythe(df: DataFrame, groupCol: Column,
                    valueCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(groupCol.as("g"), valueCol.cast("long").as("v"))
    val lat = base.groupBy("g", "v").agg(count(lit(1)).as("t"))
    val wg = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = lat
      .withColumn("cum", sum("t").over(wg))
      .withColumn("ng", sum("t").over(Window.partitionBy("g")))
    val med2 = cum.groupBy("g").agg(
      (min(when(col("cum") >= expr("(ng + 1) DIV 2"), col("v")))
        + min(when(col("cum") >= expr("ng DIV 2 + 1"), col("v"))))
        .as("m2"))
    val z = base.join(med2, "g")
      .select(col("g"), abs(lit(2L) * col("v") - col("m2")).as("z2"))
    anovaOneWay(z, col("g"), col("z2"))
      .withColumnRenamed("f_micro", "w_micro")
  }

  /** Kruskal–Wallis H — the k-group RANK test beside [[anovaOneWay]]
    * (the ≥3-arm generalization of [[mannWhitneyU]], robust to
    * non-normal value distributions): H = 12/(n(n+1)) · Σ_g R_g²/n_g
    * − 3(n+1), with the standard tie correction
    * H* = H / (1 − Σ(t³−t)/(n³−n)).
    *
    * EXACT throughout via DOUBLED ranks: a tie group occupying sorted
    * positions c+1..c+t has average rank (2c+t+1)/2, so 2·rank =
    * 2c+t+1 is always an integer — R2_g = Σ 2·rank stays in BIGINT
    * and Σ R_g²/n_g = Σ R2_g²/(4·n_g) folds the /4 into the final
    * scaling: h_micro = (3·10⁶·Σ(R2_g² DIV n_g)) DIV (n(n+1)) −
    * 3·10⁶·(n+1). Squares run in DECIMAL(38,0) (R2_g² passes 2⁶³),
    * every division is the exact (x − pmod(x, b))/b form (the
    * [[anovaOneWay]] rationale), and per-term flooring is order-free
    * — the whole statistic replays bit-for-bit in SQL (DuckDB runs
    * HUGEINT //). Flooring can push a true-zero H a few micro-quanta
    * negative; clamped to 0 on both sides.
    *
    * Plan: ranks come from the VALUE LATTICE, not a global row sort —
    * one grouped count per distinct value, one prefix-sum window over
    * that (value-lattice-bounded single partition, the q142/q164
    * discipline), and per-group rank sums via a (g, v)-count join.
    * Raw rows never enter a window; everything row-scaled is a
    * map-side-combinable grouped count. The single-task lattice pass
    * is a CONTRACT, not an accident: a loud [[LatticeMax]] guard
    * (riding the same all-to-one exchange, zero extra cost) fails the
    * job when the value column is effectively continuous — quantize
    * first rather than silently serializing the corpus through one
    * task.
    *
    * Output: one row — (n_rows, k_groups, tie_t3, h_micro,
    * h_adj_micro); h_adj_micro NULL when every value is tied
    * (correction denominator 0), h_micro NULL when k < 2.
    */
  def kruskalWallis(df: DataFrame, groupCol: Column,
                    valueCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(groupCol.as("g"), valueCol.cast("long").as("v"))
    val vals = base.groupBy("v").agg(count(lit(1)).as("t"))
    val wv = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    // loud lattice guard (ADVICE r14): the prefix sum below funnels
    // the DISTINCT-VALUE lattice through ONE task — fine for bounded
    // cent/micro lattices (the rocAuc contract), a silent single-task
    // bottleneck for a high-cardinality value column the API would
    // otherwise happily accept. The guard count rides the SAME
    // all-to-one exchange as the rank window (both single-partition
    // specs), so it costs no extra pass over anything.
    val wAll = Window.partitionBy()
    val ranked = vals
      .withColumn("cum", coalesce(sum("t").over(wv), lit(0L)))
      .withColumn("__lat", count(lit(1)).over(wAll))
      .withColumn("__ok", assert_true(col("__lat") <= lit(LatticeMax),
        concat(lit("kruskalWallis: "), col("__lat"),
          lit(s" distinct values (cap $LatticeMax) — the rank prefix " +
            "sum is a single-task pass over the value lattice; " +
            "quantize/bucket the value column first"))))
      .filter(col("__ok").isNull)
      .select(col("v"), col("t"),
        (lit(2L) * col("cum") + col("t") + lit(1L)).as("r2"))
    val gv = base.groupBy("g", "v").agg(count(lit(1)).as("c"))
    val rg = gv.join(ranked.select("v", "r2"), "v")
      .groupBy("g").agg(sum(col("c") * col("r2")).as("r2g"),
        sum("c").as("ng"))
    val terms = rg.select(
      expr(s"""CAST(${exactDivSql(
          "CAST(r2g AS DECIMAL(38, 0)) * r2g", "ng")}
              AS DECIMAL(38, 0))""").as("tm"))
      .agg(sum("tm").as("sum_t"), count(lit(1)).as("k"))
    val tot = base.agg(count(lit(1)).as("n"))
    val ties = ranked.agg(
      coalesce(sum(expr("t * t * t - t")), lit(0L)).as("t3"))
    terms.crossJoin(broadcast(tot)).crossJoin(broadcast(ties))
      .select(col("n").as("n_rows"), col("k").as("k_groups"),
        col("t3").as("tie_t3"),
        expr(s"""CASE WHEN k >= 2 THEN
            CAST(greatest(CAST(0 AS DECIMAL(38, 0)),
              ${exactDivSql("sum_t * 3000000",
                "CAST(n AS DECIMAL(38, 0)) * (n + 1)")}
              - CAST(3000000 AS DECIMAL(38, 0)) * (n + 1))
            AS BIGINT) END""").as("h_micro"))
      .withColumn("h_adj_micro", {
        val n3 = """CAST(n_rows AS DECIMAL(38, 0)) * n_rows * n_rows
                   - n_rows"""
        expr(
          s"""CASE WHEN h_micro IS NOT NULL
                 AND $n3 - tie_t3 > 0 THEN
             CAST(${exactDivSql(
               s"CAST(h_micro AS DECIMAL(38, 0)) * ($n3)",
               s"$n3 - tie_t3")} AS BIGINT)
           END""")
      })
  }

  /** Jonckheere–Terpstra trend test — the ORDERED-alternative
    * k-group test the family still lacked: [[kruskalWallis]] asks
    * "do the groups differ AT ALL", this asks "do values INCREASE
    * along a known group ordering" (dose-response: does quality rise
    * with curation stage, does latency grow with payload tier) —
    * strictly more powerful when the ordering is real. JT =
    * Σ_{i<j} U_ij over ordered group pairs, U_ij the Mann–Whitney
    * count #{x_i < y_j} + ½·#{x_i = y_j}.
    *
    * EXACT via DOUBLED statistics (the [[mannWhitneyU]] device):
    * 2·U_ij = Σ_{v} c_j(v)·(2·#{i-side < v} + c_i(v)) is pure
    * integer, accumulated in DECIMAL(38,0). The normal approximation
    * uses the standard tie-corrected three-term null variance
    * (Hollander & Wolfe §6.2):
    *   Var = [N(N−1)(2N+5) − Σ_i n_i(n_i−1)(2n_i+5)
    *            − Σ_v t_v(t_v−1)(2t_v+5)] / 72
    *       + [Σ n_i(n_i−1)(n_i−2)·Σ t_v(t_v−1)(t_v−2)]
    *            / [36·N(N−1)(N−2)]
    *       + [Σ n_i(n_i−1)·Σ t_v(t_v−1)] / [8·N(N−1)]
    * with every bracketed sum exact-integer; z is ONE fixed float
    * tree over those sums (the [[mannWhitneyU]] z convention),
    * rounded at the final projection.
    *
    * Plan: one (g, v) lattice aggregation; ordered group pairs come
    * from the model-size distinct-group table (k groups ⇒ k²/2
    * pairs — a loud guard caps k at [[GroupsMax]]); each pair's
    * cumulative runs over its own union lattice in a pair-partitioned
    * window (bounded state, never a global sort); raw rows never
    * enter a window. Group order = the NUMERIC order of `groupCol`
    * (cast to BIGINT — encode the intended ordering in the key).
    *
    * Output: one row — (n_rows, k_groups, jt2, mean2, z); z NULL
    * when k < 2 or the variance degenerates (all values tied).
    */
  def jonckheereTerpstra(df: DataFrame, groupCol: Column,
                         valueCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(loudLongKey(groupCol, "jonckheereTerpstra").as("g"),
      valueCol.cast("long").as("v"))
    val lat = base.groupBy("g", "v").agg(count(lit(1)).as("c"))
    val groups = lat.groupBy("g").agg(sum("c").as("ng"))
    // loud pair guard: k²/2 pair-tagged lattices are the plan's own
    // state — a group column with corpus-scaled cardinality needs
    // bucketing first, not a silent quadratic
    val gGuard = groups.agg(count(lit(1)).as("__k"))
      .select(assert_true(col("__k") <= lit(GroupsMax), concat(
        lit("jonckheereTerpstra: "), col("__k"),
        lit(s" groups (cap $GroupsMax) — pair count is k^2/2; bucket " +
          "the group column first"))).as("__ok"))
    val pairs = groups.select(col("g").as("gi"))
      .join(groups.select(col("g").as("gj")), col("gi") < col("gj"))
      .crossJoin(broadcast(gGuard)).filter(col("__ok").isNull)
      .drop("__ok")
    val li = lat.join(pairs, col("g") === col("gi"))
      .select(col("gi"), col("gj"), col("v"), col("c").as("ci"),
        lit(0L).as("cj"))
    val lj = lat.join(pairs, col("g") === col("gj"))
      .select(col("gi"), col("gj"), col("v"), lit(0L).as("ci"),
        col("c").as("cj"))
    val merged = li.unionByName(lj)
      .groupBy("gi", "gj", "v")
      .agg(sum("ci").as("ci"), sum("cj").as("cj"))
    val wp = Window.partitionBy("gi", "gj").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val jt = merged
      .withColumn("cum", coalesce(sum("ci").over(wp), lit(0L)))
      .agg(coalesce(sum(expr(
        """CAST(cj AS DECIMAL(38, 0)) * (2 * cum + ci)""")),
        expr("CAST(0 AS DECIMAL(38, 0))")).as("jt2"))
    // null-distribution ingredients: group sizes + the POOLED tie
    // lattice
    val gstats = groups.agg(
      count(lit(1)).as("k"),
      coalesce(sum("ng"), lit(0L)).as("nn"),
      expr("""coalesce(sum(CAST(ng AS DECIMAL(38, 0)) * ng),
          CAST(0 AS DECIMAL(38, 0)))""").as("sum_n2"),
      expr("""coalesce(sum(CAST(ng AS DECIMAL(38, 0)) * (ng - 1)
          * (2 * ng + 5)), CAST(0 AS DECIMAL(38, 0)))""").as("a_n"),
      expr("""coalesce(sum(CAST(ng AS DECIMAL(38, 0)) * (ng - 1)
          * (ng - 2)), CAST(0 AS DECIMAL(38, 0)))""").as("b_n"),
      expr("""coalesce(sum(CAST(ng AS DECIMAL(38, 0)) * (ng - 1)),
          CAST(0 AS DECIMAL(38, 0)))""").as("c_n"))
    val ties = base.groupBy("v").agg(count(lit(1)).as("t"))
      .agg(
        expr("""coalesce(sum(CAST(t AS DECIMAL(38, 0)) * (t - 1)
            * (2 * t + 5)), CAST(0 AS DECIMAL(38, 0)))""").as("a_t"),
        expr("""coalesce(sum(CAST(t AS DECIMAL(38, 0)) * (t - 1)
            * (t - 2)), CAST(0 AS DECIMAL(38, 0)))""").as("b_t"),
        expr("""coalesce(sum(CAST(t AS DECIMAL(38, 0)) * (t - 1)),
            CAST(0 AS DECIMAL(38, 0)))""").as("c_t"))
    jt.crossJoin(broadcast(gstats)).crossJoin(broadcast(ties))
      .select(col("nn").as("n_rows"), col("k").as("k_groups"),
        expr(bigintLoud("jt2", "jonckheereTerpstra: jt2")).as("jt2"),
        // 2·E[JT] = Σ_{i<j} n_i·n_j = (N² − Σn_i²)/2 · ... doubled:
        // mean2 = Σ n_i n_j = (N² − Σ n_i²) / 2; as 2·U it doubles
        // back out: E[jt2] = Σ n_i·n_j exactly
        expr(bigintLoud(
          """(CAST(nn AS DECIMAL(38, 0)) * nn - sum_n2) / 2""",
          "jonckheereTerpstra: mean2")).as("mean2"),
        col("a_t"), col("b_t"), col("c_t"), col("a_n"), col("b_n"),
        col("c_n"))
      .select(col("n_rows"), col("k_groups"), col("jt2"), col("mean2"),
        expr("""CASE WHEN k_groups >= 2 AND n_rows >= 3 THEN
            round(((CAST(jt2 AS DOUBLE) - CAST(mean2 AS DOUBLE)) / 2.0)
              / sqrt(
               (CAST(n_rows AS DOUBLE) * (n_rows - 1) * (2 * n_rows + 5)
                  - CAST(a_n AS DOUBLE) - CAST(a_t AS DOUBLE)) / 72.0
               + CAST(b_n AS DOUBLE) * CAST(b_t AS DOUBLE)
                 / (36.0 * n_rows * (n_rows - 1) * (n_rows - 2))
               + CAST(c_n AS DOUBLE) * CAST(c_t AS DOUBLE)
                 / (8.0 * n_rows * (n_rows - 1))), 6)
          END""").as("z"))
      .withColumn("z", when(col("z").isNaN || col("z") === Double.PositiveInfinity
        || col("z") === Double.NegativeInfinity, lit(null)).otherwise(col("z")))
  }

  /** Friedman test — the REPEATED-MEASURES k-treatment rank test
    * completing the [[kruskalWallis]]/[[anovaOneWay]] family (same
    * subjects measured under every treatment — an A/B/n where each
    * block sees all arms, so between-block variation cancels):
    * within each complete block the k treatment values are ranked,
    * and Q = 12/(n·k(k+1)) · Σ_j R_j² − 3n(k+1) with the tie
    * correction Q* = Q / (1 − Σ_b Σ(t³−t) / (n·k(k²−1))).
    *
    * Exactness: DOUBLED within-block ranks (2c+t+1 — the
    * [[kruskalWallis]] device) keep tie-averaged ranks integer, so
    * R2_j = Σ_b 2·r_bj is a BIGINT and Σ R_j² = Σ R2_j²/4 folds into
    * the scaling: q_micro = (3·10⁶·Σ R2_j²) DIV (4·n·k(k+1)) −
    * 3·10⁶·n·(k+1), every division the exact (x − pmod(x,b))/b
    * decimal form. INCOMPLETE blocks (missing a treatment) are
    * dropped loudly into the `n_blocks_dropped` column rather than
    * silently biasing ranks — the Friedman statistic is only defined
    * on complete blocks.
    *
    * Plan: one grouped agg to (block, treatment) cells, one
    * block-partitioned rank window (block state = k rows — bounded by
    * the TREATMENT count, never the corpus), grouped sums. Raw events
    * are read ONCE: the sized-cells table is an eager localCheckpoint
    * (blocks × k rows) feeding the k/dropped/n scalar actions and the
    * returned plan alike. Output:
    * one row — (n_blocks, k_treatments, n_blocks_dropped, tie_t3,
    * q_micro, q_adj_micro).
    */
  def friedman(df: DataFrame, blockCol: Column, treatCol: Column,
               valueCol: Column): DataFrame = {
    val (complete, k, dropped) = completeBlockCells(
      df.select(blockCol.as("b"), treatCol.as("tr"),
        valueCol.cast("long").as("v")), sum("v"))
    val ranked = doubledBlockRanks(complete)
    val perTreat = ranked.groupBy("tr")
      .agg(sum("r2").as("r2j"))
    val n = complete.select("b").distinct().count()
    val ties = blockTieMass(ranked)
    val sumSq = perTreat.agg(
      sum(expr("CAST(r2j AS DECIMAL(38, 0)) * r2j")).as("ss"))
    sumSq.crossJoin(broadcast(ties))
      .select(lit(n).as("n_blocks"), lit(k).as("k_treatments"),
        lit(dropped).as("n_blocks_dropped"), col("t3").as("tie_t3"),
        col("ss"))
      .withColumn("q_micro", expr(
        s"""CASE WHEN k_treatments >= 2 AND n_blocks >= 1 THEN
             CAST(greatest(CAST(0 AS DECIMAL(38, 0)),
               ${exactDivSql("ss * 3000000",
                 """CAST(4 AS DECIMAL(38, 0)) * n_blocks * k_treatments
                    * (k_treatments + 1)""")}
               - CAST(3000000 AS DECIMAL(38, 0)) * n_blocks
                 * (k_treatments + 1)) AS BIGINT)
           END"""))
      .withColumn("q_adj_micro", {
        val nk3 = """CAST(n_blocks AS DECIMAL(38, 0)) * k_treatments
               * (CAST(k_treatments AS DECIMAL(38, 0)) * k_treatments
                  - 1)"""
        expr(
          s"""CASE WHEN q_micro IS NOT NULL AND $nk3 - tie_t3 > 0 THEN
             CAST(${exactDivSql(
               s"CAST(q_micro AS DECIMAL(38, 0)) * ($nk3)",
               s"$nk3 - tie_t3")} AS BIGINT)
           END""")
      })
      .drop("ss")
  }

  /** Page's trend test — the ORDERED-treatment counterpart of
    * [[friedman]], closing the pairing the ordered family started
    * with [[jonckheereTerpstra]] (JT: ordered INDEPENDENT groups;
    * Page: ordered treatments on the SAME blocks): with within-block
    * ranks R and a hypothesized treatment order 1..k,
    * L = Σ_j j·R_j — monotone agreement between the rank profile and
    * the order, strictly more powerful than Friedman when the order
    * is real (does quality rise across curation stages applied to
    * the same documents?).
    *
    * Exactness: DOUBLED within-block ranks (the [[friedman]] device)
    * keep tie-averaged ranks integer; L2 = Σ j·R2_j accumulates in
    * DECIMAL(38,0) with a loud BIGINT narrowing, and
    * E[L2] = n·k(k+1)²/2 is exact. The z uses Page's NO-TIE null
    * variance Var(L) = n·k²(k+1)²(k−1)/144 — stated plainly: with
    * within-block ties the true variance is slightly smaller, so
    * this z is CONSERVATIVE in the presence of ties (the standard
    * practice); `tie_t3` exposes the tie mass so a consumer can see
    * how far from tie-free the input is. Treatment order = the
    * NUMERIC ascending order of `treatCol` (the
    * [[jonckheereTerpstra]] convention — encode the hypothesis in
    * the key). Incomplete blocks drop loudly ([[friedman]]).
    *
    * Plan: the [[friedman]] machinery verbatim (one checkpointed
    * cells pass, block-partitioned rank windows with k-row state)
    * plus one model-size treatment-order table. Output: one row —
    * (n_blocks, k_treatments, n_blocks_dropped, tie_t3, l2, el2, z).
    */
  def pageTrend(df: DataFrame, blockCol: Column, treatCol: Column,
                valueCol: Column): DataFrame = {
    val (complete, k, dropped) = completeBlockCells(
      df.select(blockCol.as("b"),
        loudLongKey(treatCol, "pageTrend").as("tr"),
        valueCol.cast("long").as("v")), sum("v"))
    val ranked = doubledBlockRanks(complete)
    // treatment order 1..k by ascending numeric key — a k-row table,
    // the single-partition window is model-size by construction
    val ord = complete.select("tr").distinct()
      .withColumn("j", row_number()
        .over(Window.orderBy("tr")).cast("long"))
    val perTreat = ranked.groupBy("tr").agg(sum("r2").as("r2j"))
      .join(ord, "tr")
    val n = complete.select("b").distinct().count()
    val ties = blockTieMass(ranked)
    val el2 = BigInt(n) * k * (k + 1) * (k + 1) / 2 // always even product
    require(el2.isValidLong, "pageTrend: E[L2] exceeds BIGINT")
    val varD = n.toDouble * k * k * (k + 1) * (k + 1) * (k - 1) / 144.0
    perTreat
      .agg(expr("""coalesce(sum(CAST(j AS DECIMAL(38, 0)) * r2j),
          CAST(0 AS DECIMAL(38, 0)))""").as("l2d"))
      .crossJoin(broadcast(ties))
      .select(lit(n).as("n_blocks"), lit(k).as("k_treatments"),
        lit(dropped).as("n_blocks_dropped"), col("t3").as("tie_t3"),
        expr(bigintLoud("l2d", "pageTrend: l2")).as("l2"),
        lit(el2.toLong).as("el2"))
      .withColumn("z",
        if (k >= 2 && n >= 1 && varD > 0)
          expr(s"""round(((CAST(l2 AS DOUBLE) - CAST(el2 AS DOUBLE))
              / 2.0) / sqrt($varD), 6)""")
        else lit(null).cast("double"))
  }

  /** Cochran's Q — the k-treatment test for BINARY outcomes on the
    * same blocks (does conversion differ across k variants shown to
    * the same users?): with column totals C_j, block totals R_b and
    * grand total N over COMPLETE blocks,
    *
    *   Q = (k−1) · (k·ΣC_j² − N²) / (k·N − ΣR_b²)
    *
    * — EXACT integers end to end, with every square and the final
    * floor division routed through DECIMAL(38, 0) (ΣC_j²/ΣR_b²/N²
    * pass 2⁶³ once grand_n reaches a few million; the BIGINT output
    * is a loud-guarded narrowing, the [[anovaOneWay]] discipline).
    * The McNemar generalization: k = 2 reduces to McNemar without
    * continuity correction. Blocks with all-0 or all-k outcomes
    * contribute nothing to either side (standard). Incomplete blocks
    * drop loudly into `n_blocks_dropped` ([[friedman]] discipline);
    * raw events are read ONCE (the sized-cells checkpoint feeds the
    * scalar actions, both marginals and the returned plan).
    *
    * Output: one row — (n_blocks, k_treatments, n_blocks_dropped,
    * grand_n, q_micro); q_micro NULL when the denominator is 0
    * (every block constant).
    */
  def cochranQ(df: DataFrame, blockCol: Column, treatCol: Column,
               flagCol: Column): DataFrame = {
    val (complete, k, dropped) = completeBlockCells(
      df.select(blockCol.as("b"), treatCol.as("tr"),
        flagCol.cast("boolean").as("x")),
      max(when(col("x"), lit(1L)).otherwise(lit(0L))))
    // squares route through DECIMAL(38, 0) (the anovaOneWay /
    // kruskalWallis discipline, ADVICE r14): C_j and R_b are
    // O(grand_n), so ΣC_j² / ΣR_b² / N² pass 2⁶³ at a few million
    // observations — a BIGINT product would wrap SILENTLY (ANSI off)
    // while the DuckDB oracle's BIGINT ops error loudly.
    val colTot = complete.groupBy("tr").agg(sum("v").as("cj"))
      .agg(sum(expr("CAST(cj AS DECIMAL(38, 0)) * cj")).as("sum_cj2"),
        sum("cj").as("nn"))
    val rowTot = complete.groupBy("b").agg(sum("v").as("rb"))
      .agg(expr("""coalesce(sum(CAST(rb AS DECIMAL(38, 0)) * rb),
          CAST(0 AS DECIMAL(38, 0)))""").as("sum_rb2"),
        count(lit(1)).as("n_blocks"))
    colTot.crossJoin(broadcast(rowTot))
      .select(col("n_blocks"), lit(k).as("k_treatments"),
        lit(dropped).as("n_blocks_dropped"),
        coalesce(col("nn"), lit(0L)).as("grand_n"),
        expr(s"""CAST($k * coalesce(nn, 0) AS DECIMAL(38, 0))
            - sum_rb2""").as("__den"),
        expr(s"""($k - 1) * ($k * coalesce(sum_cj2,
              CAST(0 AS DECIMAL(38, 0)))
            - CAST(coalesce(nn, 0) AS DECIMAL(38, 0))
              * coalesce(nn, 0)) * 1000000""").as("__num"))
      .select(col("n_blocks"), col("k_treatments"),
        col("n_blocks_dropped"), col("grand_n"),
        // numerator ≥ 0 by Cauchy–Schwarz (k·ΣC_j² ≥ N²), so the
        // exact (x − pmod(x, b))/b floor equals integer DIV; the
        // BIGINT narrowing is loud-guarded
        expr(s"""CASE WHEN $k >= 2 AND __den > 0 THEN
            ${bigintLoud(exactDivSql("__num", "__den"),
              "cochranQ: q_micro")}
          END""").as("q_micro"))
  }

  /** Mann-Whitney U rank-sum test per key — the nonparametric two-
    * sample test beside the mean-based z (q223) and F (q257): does one
    * arm's VALUE DISTRIBUTION stochastically dominate the other's,
    * without assuming normality (heavy-tailed revenue is exactly where
    * the t/z family lies)?
    *
    * Rank arithmetic runs on the VALUE LATTICE, never per row: one
    * aggregation collapses the corpus to (key, value) cells with
    * per-arm counts, a key-partitioned cumulative window over each
    * key's micro/cents lattice assigns every distinct value its
    * DOUBLED midrank r2 = 2·(#below) + t + 1 (ties carry the exact
    * average rank as an integer ×2 — no halves, no floats), and the
    * rank sum / U statistic fold back as exact integer products.
    * The normal approximation uses the tie-corrected variance
    *   σ² = n_a·n_b/12 · [ (N+1) − Σ(t³−t)/(N(N−1)) ]
    * with Σ(t³−t) accumulated in DECIMAL(38,0) (one corpus-sized tie
    * group would overflow BIGINT's t³), and z is ONE fixed float tree
    * over the exact sums — engine-replayable bit-for-bit.
    *
    * Scale shape: one (key, value) aggregation; the window runs over
    * per-key value lattices (cents-rounded metrics live on a bounded
    * lattice — the ROC-AUC contract), and one grouped aggregation
    * finishes. Output per key: (n_a, n_b, u2_a = 2·U_A, z). Degenerate
    * keys (an empty arm, or every value tied) yield NULL z.
    */
  def mannWhitneyU(df: DataFrame, key: Column, arm: Column,
                   valueCents: Column, armA: String, armB: String): DataFrame = {
    val lat = df
      .select(key.as("k"), arm.as("a"), valueCents.cast("long").as("v"))
      .filter(col("a").isin(armA, armB))
      .groupBy("k", "v")
      .agg(
        sum(when(col("a") === armA, 1L).otherwise(0L)).as("c_a"),
        sum(when(col("a") === armB, 1L).otherwise(0L)).as("c_b"))
      .withColumn("t", col("c_a") + col("c_b"))
    val below = Window.partitionBy("k").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    lat
      .withColumn("cum_below", coalesce(sum("t").over(below), lit(0L)))
      .withColumn("r2", expr("2 * cum_below + t + 1"))
      .groupBy(col("k").as("key"))
      .agg(
        sum("c_a").as("n_a"),
        sum("c_b").as("n_b"),
        // 2×rank-sum of arm A: bounded by 2N² — DECIMAL(38,0) so a
        // billion-row key cannot wrap silently
        sum(expr("CAST(c_a AS DECIMAL(38,0)) * r2")).as("r2sum_a"),
        sum(expr("CAST(t AS DECIMAL(38,0)) * t * t - t")).as("tie3"))
      .select(col("key"), col("n_a"), col("n_b"),
        // 2·U_A = 2·R_A − n_a(n_a+1); loud-guarded BIGINT cast (anovaF
        // discipline) keeps the output schema integer
        expr("""CASE WHEN abs(r2sum_a - CAST(n_a AS DECIMAL(38,0)) * (n_a + 1))
                     > CAST(9223372036854775807 AS DECIMAL(38,0))
                THEN CAST(assert_true(false,
                  'mannWhitneyU: u2_a exceeds BIGINT range') AS BIGINT)
                ELSE CAST(r2sum_a - CAST(n_a AS DECIMAL(38,0)) * (n_a + 1)
                          AS BIGINT) END""").as("u2_a"),
        col("tie3"))
      .select(col("key"), col("n_a"), col("n_b"), col("u2_a"),
        expr("""CASE WHEN n_a > 0 AND n_b > 0
                  AND tie3 < CAST(n_a + n_b AS DECIMAL(38,0))
                      * (n_a + n_b) * (n_a + n_b) - (n_a + n_b)
                THEN round(
                  (CAST(u2_a AS DOUBLE) - CAST(n_a AS DOUBLE) * n_b)
                  / (2.0 * sqrt(CAST(n_a AS DOUBLE) * n_b / 12.0
                      * (CAST(n_a + n_b AS DOUBLE) + 1.0
                         - CAST(tie3 AS DOUBLE)
                           / (CAST(n_a + n_b AS DOUBLE)
                              * (CAST(n_a + n_b AS DOUBLE) - 1.0))))), 6)
                END""").as("z"))
  }

  /** Two-arm log-rank test per key — the survival-curve comparison
    * that completes the Kaplan-Meier family (q208): do treated and
    * control users' waiting-time distributions differ, with right-
    * censored observations handled correctly (a censored unit leaves
    * the risk set without ever counting as an event)?
    *
    * Input is the KM-shaped observation table: one row per unit with
    * its duration, an event/censor flag and a boolean arm. Per
    * distinct duration t the corpus collapses to per-arm entry and
    * death counts; at-risk counts are suffix sums over each key's
    * duration lattice (total − entries strictly before t). Per death
    * time the O−E and hypergeometric-variance contributions
    *   o1 − d·r1/r,   d·(r1/r)·(r2/r)·(r−d)/(r−1)
    * are each ONE fixed float tree micro-rounded to BIGINT so the
    * cross-time sums are order-free; chi2 = (ΣOE)²/ΣV is one more
    * float tree at the end. Keys with a degenerate risk profile
    * (ΣV = 0) yield NULL chi2.
    *
    * Scale shape: one (key, dur) aggregation over the corpus; windows
    * run over per-key duration lattices (bounded — second-granularity
    * waits, the q208 contract). Output per key: arm sizes, per-arm
    * death totals, oe_sum_micro, var_sum_micro, chi2.
    */
  def logRank(df: DataFrame, key: Column, dur: Column, death: Column,
              treated: Column): DataFrame = {
    val lat = df
      .select(key.as("k"), dur.cast("long").as("d"),
        death.cast("boolean").as("ev"), treated.cast("boolean").as("t1"))
      .groupBy("k", "d")
      .agg(
        sum(when(col("t1"), 1L).otherwise(0L)).as("e1"),
        sum(when(!col("t1"), 1L).otherwise(0L)).as("e2"),
        sum(when(col("t1") && col("ev"), 1L).otherwise(0L)).as("o1"),
        sum(when(!col("t1") && col("ev"), 1L).otherwise(0L)).as("o2"))
    val perKey = Window.partitionBy("k")
    val upto = Window.partitionBy("k").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risk = lat
      .withColumn("n1", sum("e1").over(perKey))
      .withColumn("n2", sum("e2").over(perKey))
      .withColumn("r1", col("n1") - sum("e1").over(upto) + col("e1"))
      .withColumn("r2", col("n2") - sum("e2").over(upto) + col("e2"))
    // contributions live as columns on the SAME risk table (death-free
    // lattice rows contribute exact zeros), so one grouped aggregation
    // yields census AND test sums without re-deriving the lattice —
    // the lead() window upstream is the expensive pass and runs once
    val contrib = risk
      .withColumn("dt", col("o1") + col("o2"))
      .withColumn("rt", col("r1") + col("r2"))
      .withColumn("oe_micro",
        expr("""CASE WHEN dt > 0 THEN
                CAST(round((CAST(o1 AS DOUBLE)
                - CAST(dt AS DOUBLE) * r1 / rt) * 1000000.0) AS BIGINT)
                ELSE 0L END"""))
      .withColumn("var_micro",
        expr("""CASE WHEN dt > 0 AND rt > 1 THEN
                CAST(round(CAST(dt AS DOUBLE) * (CAST(r1 AS DOUBLE) / rt)
                  * (CAST(r2 AS DOUBLE) / rt)
                  * (CAST(rt - dt AS DOUBLE) / (rt - 1))
                  * 1000000.0) AS BIGINT) ELSE 0L END"""))
    contrib.groupBy(col("k"))
      .agg(sum("e1").as("n_a"), sum("e2").as("n_b"),
        sum("o1").as("deaths_a"), sum("o2").as("deaths_b"),
        sum("oe_micro").as("oe_sum_micro"),
        sum("var_micro").as("var_sum_micro"))
      .select(col("k").as("key"), col("n_a"), col("n_b"),
        col("deaths_a"), col("deaths_b"),
        col("oe_sum_micro"), col("var_sum_micro"),
        expr("""CASE WHEN var_sum_micro > 0 THEN
                round(CAST(oe_sum_micro AS DOUBLE) * oe_sum_micro
                  / 1000000.0 / var_sum_micro, 6) END""").as("chi2"))
  }

  /** Spearman rank correlation per group — the monotone-association
    * audit (does quality score track document length? value track hour
    * of day?) that Pearson misreads under nonlinearity and outliers.
    *
    * Rank assignment runs entirely on VALUE LATTICES, never as a
    * per-row sort: the corpus collapses to the joint (g, x, y) grid
    * with counts, each marginal lattice gets DOUBLED midranks
    * r2 = 2·(#below) + t + 1 via a group-partitioned cumulative window
    * (exact tie-averaged ranks as integers — the mannWhitneyU
    * machinery), and the joint grid joins its two marginals to fold
    * exact DECIMAL(38,0) sufficient statistics. rho is ONE fixed float
    * tree over those sums (Pearson on 2×ranks — the constant factor
    * cancels), replayable bit-for-bit.
    *
    * Scale shape: one joint aggregation + two lattice windows + two
    * lattice-to-lattice joins — everything after the first shuffle is
    * lattice-sized (cents/hour-grained metrics — the ROC contract).
    * Output per group: (n_rows, rho). Degenerate groups (a constant
    * marginal) yield NULL rho.
    */
  def spearman(df: DataFrame, group: Column, x: Column, y: Column): DataFrame = {
    val joint = df
      .select(group.as("g"), x.cast("long").as("x"), y.cast("long").as("y"))
      .groupBy("g", "x", "y")
      .agg(count(lit(1)).as("cnt"))
    def marginal(c: String): DataFrame = {
      val below = Window.partitionBy("g").orderBy(c)
        .rowsBetween(Window.unboundedPreceding, -1)
      joint.groupBy("g", c)
        .agg(sum("cnt").as("t"))
        .withColumn("cum_below", coalesce(sum("t").over(below), lit(0L)))
        .select(col("g"), col(c),
          expr("2 * cum_below + t + 1").as(s"r2$c"))
    }
    joint
      .join(marginal("x"), Seq("g", "x"))
      .join(marginal("y"), Seq("g", "y"))
      .groupBy(col("g").as("grp"))
      .agg(
        sum("cnt").as("n_rows"),
        sum(expr("CAST(cnt AS DECIMAL(38,0)) * r2x")).as("sx"),
        sum(expr("CAST(cnt AS DECIMAL(38,0)) * r2y")).as("sy"),
        sum(expr("CAST(cnt AS DECIMAL(38,0)) * r2x * r2y")).as("sxy"),
        sum(expr("CAST(cnt AS DECIMAL(38,0)) * r2x * r2x")).as("sxx"),
        sum(expr("CAST(cnt AS DECIMAL(38,0)) * r2y * r2y")).as("syy"))
      .select(col("grp"), col("n_rows"),
        expr("""CASE WHEN n_rows > 1
                  AND n_rows * sxx - sx * sx > 0
                  AND n_rows * syy - sy * sy > 0
                THEN round(
                  CAST(n_rows * sxy - sx * sy AS DOUBLE)
                  / sqrt(CAST(n_rows * sxx - sx * sx AS DOUBLE)
                         * CAST(n_rows * syy - sy * sy AS DOUBLE)), 6)
                END""").as("rho"))
  }

  /** Gini coefficient per group — the inequality/concentration number
    * (how unevenly is revenue spread across customers? tokens across
    * sources?) that a threshold share (q189) or a top-k (q04) can't
    * summarize. For sorted non-negative values x_(1)..x_(n):
    *
    *   G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx)
    *
    * Rank arithmetic runs on the VALUE LATTICE (the mannWhitneyU
    * machinery): a block of c equal values starting after cumulative
    * count m contributes v·(c·m + c(c+1)/2) to Σ i·x_(i) exactly —
    * BIGINT in, DECIMAL(38,0) out (Σ i·x is ~n²·x̄ — BIGINT wraps at
    * production scale, the anovaF class). The per-block index product
    * c·m itself stays BIGINT: exact through ~3·10⁹ rows PER GROUP
    * (past that the block fold needs a DECIMAL widening — documented
    * bound, same class as cohenKappa's n ≤ 3M note). One grouped aggregation +
    * one lattice window + one grouped aggregation; the final ratio is
    * one integer DIV. Requires non-negative values (enforced in-plan:
    * a negative value fails loudly rather than returning a silently
    * out-of-range G).
    *
    * Output per group: (grp, n_rows, sum_cents, gini_micro); groups
    * with zero total get NULL gini.
    */
  def gini(df: DataFrame, group: Column, valueCents: Column): DataFrame = {
    val lat = df
      .select(group.as("g"), valueCents.cast("long").as("v"))
      .select(col("g"),
        when(col("v") < 0,
          expr("assert_true(false, 'gini: negative value')").cast("long"))
          .otherwise(col("v")).as("v"))
      .groupBy("g", "v")
      .agg(count(lit(1)).as("c"))
    val below = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    lat
      .withColumn("m", coalesce(sum("c").over(below), lit(0L)))
      .groupBy(col("g").as("grp"))
      .agg(
        sum("c").as("n_rows"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * c")).as("s"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * (c * m + c * (c + 1) DIV 2)"))
          .as("s1"))
      .select(col("grp"), col("n_rows"),
        expr("""CASE WHEN abs(s) > CAST(9223372036854775807 AS DECIMAL(38,0))
                THEN CAST(assert_true(false,
                  'gini: sum exceeds BIGINT range') AS BIGINT)
                ELSE CAST(s AS BIGINT) END""").as("sum_cents"),
        expr("""CASE WHEN s > 0 THEN
                CAST((2 * s1 - CAST(n_rows + 1 AS DECIMAL(38,0)) * s)
                     * 1000000 DIV (CAST(n_rows AS DECIMAL(38,0)) * s)
                     AS BIGINT) END""").as("gini_micro"))
  }

  /** Isotonic (monotone) calibration of a classifier score via the
    * MINIMAX closed form of isotonic regression — what Platt scaling
    * can't do (it forces a sigmoid shape) and what raw calibration
    * bins (q153) don't guarantee (monotonicity):
    *
    *   fit_i = max_{j ≤ i} min_{k ≥ i} avg(y over bins j..k)
    *
    * — provably equal to the pool-adjacent-violators solution, but a
    * CLOSED FORM over prefix sums instead of a sequential pooling
    * loop, which is what makes it distributable AND oracle-replayable.
    *
    * Determinism discipline: the corpus collapses to per-bin exact
    * (n, pos) counts; every block average is the exact integer
    * pos_diff·1e6 DIV n_diff, and min/max over integers are order-free
    * — no float anywhere. Monotonicity survives the flooring (floor is
    * monotone and the candidate-set inclusion argument never looks at
    * the values).
    *
    * Scale shape: one corpus aggregation to ≤nBins cells, then the
    * (j,i,k) triple expansion runs on the BIN table — O(nBins³)
    * bounded work (512³/6 ≈ 2e7 rows at the cap — model-size,
    * documented like the ROC lattice; the require enforces it). The
    * prefix window is over the ≤nBins-row bin table.
    *
    * Output per OCCUPIED bin: (bin, n_docs, n_pos, rate_micro,
    * fit_micro) with fit_micro monotone non-decreasing in bin.
    */
  def isotonicCalibration(df: DataFrame, scoreMicro: Column, label: Column,
                          loMicro: Long, hiMicro: Long,
                          nBins: Int): DataFrame = {
    require(nBins >= 1 && nBins <= 512,
      "nBins in [1, 512]: the minimax triple expansion is O(nBins^3)")
    val width = (hiMicro - loMicro) / nBins
    require(width > 0 && (hiMicro - loMicro) % nBins == 0,
      s"[$loMicro,$hiMicro] must split evenly into $nBins bins")
    val cells = df.select(scoreMicro.cast("long").as("s"), label.as("y"))
      .withColumn("bin",
        expr(s"greatest(least((s - (${loMicro}L)) DIV ${width}L, ${nBins - 1}L), 0L)"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("y"), 1L).otherwise(0L)).as("n_pos"))
    // ≤nBins rows: the bounded-lattice window contract
    val wOrd = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, 0)
    val pref = cells
      .withColumn("i", count(lit(1)).over(wOrd))
      .withColumn("cn", sum("n_docs").over(wOrd))
      .withColumn("cp", sum("n_pos").over(wOrd))
    val jk = pref.select(col("i").as("j"), (col("cn") - col("n_docs")).as("jn"),
        (col("cp") - col("n_pos")).as("jp"))
      .join(pref.select(col("i").as("k"), col("cn").as("kn"),
        col("cp").as("kp")), col("j") <= col("k"))
      .select(col("j"), col("k"),
        expr("(kp - jp) * 1000000 DIV (kn - jn)").as("avg_micro"))
    val fits = jk
      .join(pref.select(col("i")), col("j") <= col("i") && col("i") <= col("k"))
      .groupBy("i", "j").agg(min("avg_micro").as("mn"))
      .groupBy("i").agg(max("mn").as("fit_micro"))
    pref.join(fits, "i")
      .select(col("bin"), col("n_docs"), col("n_pos"),
        expr("n_pos * 1000000 DIV n_docs").as("rate_micro"),
        col("fit_micro"))
  }

  /** Fisher-Pitman sign-flip permutation test per experiment +
    * Benjamini-Hochberg FDR across the family — the multiple-testing
    * discipline every many-armed experiment dashboard needs (run m
    * tests at α and ~α·m of them lie), with p-values that are EXACT
    * INTEGER RATIOS instead of a normal approximation:
    *
    *   stat_obs = |Σ_u s_u·v_u|  (s_u = +1 treated, −1 control)
    *   stat_b   = |Σ_u σ_{u,b}·v_u|, σ from the portable avalanched
    *              hash of (experiment, unit, replicate, seed)
    *   p̂ = (1 + #{b : stat_b ≥ stat_obs}) / (B+1)
    *
    * BH then rejects experiments 1..i* in ascending-p̂ order where
    * i* = max{ i : p̂_(i) ≤ i·α/m } — every comparison cross-multiplied
    * to integers (α·(B+1) is required integral), so the whole
    * procedure is engine-replayable with no float anywhere.
    *
    * Scale shape: units aggregate from the corpus first (one grouped
    * aggregation); the replicate explosion is units×B map-side-
    * combined down to B rows per experiment (the bootstrapCi
    * discipline); the BH windows run over the m-row experiment table
    * (model-size by construction). The hash goes through two avalanche
    * rounds — the raw rolling fold is affine in the replicate suffix
    * and would correlate replicates (the epoch-shuffle bug class).
    *
    * Output per experiment: (n_units, obs_cents, p_num, p_den,
    * bh_rank, rejected).
    */
  def permTestFdr(df: DataFrame, expKey: Column, unitId: Column,
                  valueCents: Column, treated: Column, b: Int = 199,
                  alpha: Double = 0.05, seed: Long = 42L): DataFrame = {
    val alphaNum = alpha * (b + 1)
    require(alphaNum == math.rint(alphaNum) && alphaNum > 0,
      s"alpha*(B+1) must be a positive integer (got $alphaNum): " +
        "integer p-value comparisons need an exact threshold")
    val units = df
      .select(expKey.as("k"), unitId.cast("string").as("u"),
        valueCents.cast("long").as("v"), treated.cast("boolean").as("t1"))
      .groupBy("k", "u")
      .agg(sum("v").as("v"), max("t1").as("t1"))
    val obs = units.groupBy("k")
      .agg(count(lit(1)).as("n_units"),
        abs(sum(when(col("t1"), col("v")).otherwise(-col("v")))).as("obs"))
    val reps = units
      .select(col("k"), col("u"), col("v"),
        explode(sequence(lit(0), lit(b - 1))).as("r"))
      .withColumn("sgn", pmod(Sketches.mix32(TextAnalysis.rollingHash(
        concat(col("k"), lit(":"), col("u"), lit(":"),
          col("r").cast("string"), lit(":"), lit(seed.toString)))),
        lit(2L)))
      .groupBy("k", "r")
      .agg(abs(sum(when(col("sgn") === 1L, col("v")).otherwise(-col("v"))))
        .as("stat"))
    val pvals = reps.join(obs, Seq("k"))
      .groupBy(col("k"), col("n_units"), col("obs"))
      .agg((sum(when(col("stat") >= col("obs"), 1L).otherwise(0L)) + 1L)
        .as("p_num"))
      .withColumn("p_den", lit((b + 1).toLong))
    // BH over the m-row experiment table: both windows are family-size
    // (model-size by construction — m experiments, never corpus rows)
    val wOrd = Window.orderBy(col("p_num"), col("k"))
    val wAll = Window.partitionBy()
    pvals
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("bh_rank", row_number().over(wOrd).cast("long"))
      .withColumn("crossed",
        when(col("p_num") * col("m") <=
          col("bh_rank") * lit(alphaNum.toLong), col("bh_rank"))
          .otherwise(lit(0L)))
      .withColumn("max_rej", max("crossed").over(wAll))
      .select(col("k").as("key"), col("n_units"),
        col("obs").as("obs_cents"), col("p_num"), col("p_den"),
        col("bh_rank"), (col("bh_rank") <= col("max_rej")).as("rejected"))
  }

  /** McNemar's test on PAIRED binary outcomes — the right way to
    * compare two classifiers (or a before/after gate change) scored on
    * the SAME items, where the two-proportion z (q223) would wrongly
    * treat the arms as independent. Only the discordant cells matter:
    *
    *   chi2 = (max(|n01 − n10| − 1, 0))² / (n01 + n10)
    *
    * (continuity-corrected). The numerator is a perfect square of an
    * exact count difference, so chi2_micro is PURE INTEGER arithmetic
    * — one grouped aggregation collapses the corpus to four BIGINTs,
    * and the significance compare runs against the integer-micro
    * χ²₁ 5% critical value (3.841459). No float anywhere.
    *
    * Output: one row (n_pairs, n_both, n01 = A-only-correct, n10 =
    * B-only-correct, chi2_micro, significant); zero discordant pairs
    * leave chi2 NULL.
    */
  def mcnemar(df: DataFrame, okA: Column, okB: Column): DataFrame =
    df.select(okA.as("a"), okB.as("b"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("n_both"),
        sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("n01"),
        sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("n10"))
      .select(col("n_pairs"), col("n_both"), col("n01"), col("n10"),
        expr("""CASE WHEN n01 + n10 > 0 THEN
                greatest(abs(n01 - n10) - 1, 0L)
                * greatest(abs(n01 - n10) - 1, 0L)
                * 1000000 DIV (n01 + n10) END""").as("chi2_micro"))
      .withColumn("significant",
        coalesce(col("chi2_micro") > lit(3841459L), lit(false)))

  /** Cohen's kappa — chance-corrected agreement between a prediction
    * and gold labels (multiclass):
    *   kappa = (po − pe) / (1 − pe)
    *         = (n·agree − Σ_c row_c·col_c) / (n² − Σ_c row_c·col_c)
    * computed entirely in BIGINT from the confusion cells (n ≤ 3M
    * keeps n²·1e6 under 2^63; the sums themselves never overflow).
    * One corpus aggregation; the marginal join runs on the label-
    * alphabet-sized cell table. Result: one row with the agreement
    * anatomy and kappa_micro.
    */
  def cohenKappa(df: DataFrame, gold: Column, pred: Column): DataFrame = {
    val cells = df.select(gold.as("gold"), pred.as("pred"))
      .groupBy("gold", "pred")
      .agg(count(lit(1)).as("c"))
    val rowTot = cells.groupBy("gold").agg(sum("c").as("row_c"))
    val colTot = cells.groupBy("pred").agg(sum("c").as("col_c"))
    val chance = rowTot
      .join(colTot, rowTot("gold") === colTot("pred"))
      .agg(sum(expr("row_c * col_c")).as("chance_pairs"))
    val agree = cells.agg(
      sum("c").as("n_docs"),
      sum(when(col("gold") === col("pred"), col("c")).otherwise(0L))
        .as("n_agree"))
    agree.crossJoin(broadcast(chance))
      .select(col("n_docs"), col("n_agree"), col("chance_pairs"),
        expr("""(n_docs * n_agree - chance_pairs) * 1000000
                DIV (n_docs * n_docs - chance_pairs)""").as("kappa_micro"))
  }

  /** Split-conformal calibration (Vovk et al.; Angelopoulos & Bates
    * 2021 tutorial form): distribution-free prediction intervals with
    * finite-sample coverage ≥ 1 − α. The portable hash split
    * ([[Sampling.hashSplit]] semantics inlined by seed) carves
    * train/calib/test; the "model" is the per-group train mean (cents,
    * floor DIV — conformal wraps ANY predictor, and the point of the
    * operator is the calibration algebra, not the regressor); the
    * nonconformity score is |y − ŷ|; q̂ is the ⌈(n_cal+1)(1−α)⌉-th
    * smallest calibration score — an EXACT order statistic (integer
    * ceil on the micro-scaled α, per-group rank window, tie-break by
    * id never changes the value at the rank) — and test coverage is
    * counted against it.
    *
    * All integer end to end: cents lattice scores, one positive DIV
    * per ratio. Groups with no train rows, or too small for the α
    * level (rank > n_cal), drop — finite-sample conformal is
    * undefined there (documented loud-by-absence).
    *
    * Scale shape: one exchange for the model agg, one per-group rank
    * window (partitioned — never a global sort), one exchange for the
    * coverage count; the model/q̂ tables are group-alphabet-sized
    * broadcast joins.
    *
    * Output: (group, mean_cents, n_calib, qhat_cents, n_test,
    * n_covered, coverage_micro).
    */
  def conformalCalibrate(df: DataFrame, group: Column, id: Column,
                         valueCents: Column, alphaMicro: Long = 100000L,
                         seed: Long = 42L): DataFrame = {
    require(alphaMicro > 0L && alphaMicro < 1000000L,
      "alphaMicro must be in (0, 1e6)")
    val base = df.select(group.as("g"), id.as("rid"), valueCents.as("y"))
    val split = Sampling.hashSplit(base, "rid",
      Seq("train" -> 0.4, "calib" -> 0.3, "test" -> 0.3), seed)
    val model = split.filter(col("split") === "train")
      .groupBy("g").agg(expr("sum(y) DIV count(1)").as("mean_cents"))
    val scored = split.filter(col("split") =!= "train")
      .join(model, "g")
      .withColumn("s", abs(col("y") - col("mean_cents")))
    val calib = scored.filter(col("split") === "calib")
    val qhat = calib
      .join(calib.groupBy("g").agg(count(lit(1)).as("n_calib")), "g")
      .withColumn("rn", row_number().over(
        Window.partitionBy("g").orderBy(col("s"), col("rid"))))
      .filter(col("rn") === expr(
        s"((n_calib + 1) * (1000000L - ${alphaMicro}L) + 999999L) DIV 1000000L"))
      .select(col("g"), col("n_calib"), col("s").as("qhat_cents"))
    scored.filter(col("split") === "test")
      .join(qhat, "g")
      .groupBy(col("g"), col("n_calib"), col("qhat_cents"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("s") <= col("qhat_cents"), 1L).otherwise(0L))
          .as("n_covered"))
      .withColumn("coverage_micro",
        expr("n_covered * 1000000L DIV n_test"))
      .join(model, "g")
      .select(col("g").as("group"), col("mean_cents"), col("n_calib"),
        col("qhat_cents"), col("n_test"), col("n_covered"),
        col("coverage_micro"))
  }

  /** Krippendorff's alpha, nominal data (Krippendorff 2004) — the
    * inter-annotator agreement coefficient that generalizes Cohen's
    * kappa ([[cohenKappa]], exactly two raters, no missing) to ANY
    * number of ratings per unit with missing values: the label-quality
    * gate for multi-annotator training data. Only the per-unit label
    * MULTISET matters for the nominal form:
    *
    *   α = 1 − D_o / D_e,  D_o from within-unit disagreeing pairs
    *   weighted 1/(m_u − 1),  D_e from the pooled label marginals.
    *
    * Exact integers throughout: the 1/(m_u−1) weights scale by
    * S = 2520 = lcm(1..9) (units capped at `maxRatings` ≤ 10 ratings,
    * loud failure beyond — S/(m−1) stays integral), the observed
    * disagreement per unit is the ordered-pair identity
    * m(m−1) − Σ_c cnt_c(cnt_c−1), expected disagreement is
    * n² − Σ_c n_c², and α lands in one micro division:
    * α_micro = 1e6 − off_S·(n−1)·1e6 DIV (S·(n² − Σn_c²)).
    * Single-label data (D_e = 0) yields NULL α (undefined, loud by
    * absence). Units with one rating drop (no pairs), per the
    * definition.
    *
    * Scale shape: two grouped aggregations (unit-label counts, then
    * unit rollup) + one label-marginal aggregate — map-side
    * combinable, no window, no join beyond the bounded label table.
    *
    * Output: one row (n_units, n_ratings, n_labels, alpha_micro).
    */
  def krippendorffAlpha(df: DataFrame, unit: Column, label: Column,
                        maxRatings: Int = 10): DataFrame = {
    require(maxRatings >= 2 && maxRatings <= 10,
      "S = lcm(1..9) covers at most 10 ratings per unit")
    val s = 2520L
    val cnts = df.select(unit.as("u"), label.cast("string").as("c"))
      .groupBy("u", "c").agg(count(lit(1)).as("cnt"))
    val units = cnts.groupBy("u")
      .agg(sum("cnt").as("m"), sum(expr("cnt * (cnt - 1)")).as("same"))
      .withColumn("__guard", when(col("m") > maxRatings, expr(
        s"assert_true(false, 'krippendorffAlpha: a unit has more than " +
          s"$maxRatings ratings')")).otherwise(lit(null)))
      .filter(col("m") >= 2L && col("__guard").isNull)
      .select(col("u"), col("m"), col("same"))
    val obs = units.agg(count(lit(1)).as("n_units"),
      sum("m").as("n"),
      sum(expr(s"${s}L * (m * (m - 1) - same) DIV (m - 1)")).as("off_s"))
    val qualifying = units.select("u")
    val marg = cnts.join(qualifying, "u")
      .groupBy("c").agg(sum("cnt").as("n_c"))
      .agg(count(lit(1)).as("n_labels"),
        sum(expr("n_c * n_c")).as("sumsq"))
    obs.crossJoin(marg)
      .select(col("n_units"), col("n").as("n_ratings"), col("n_labels"),
        when(col("n") * col("n") - col("sumsq") > 0L,
          lit(1000000L) - expr(
            s"off_s * (n - 1) * 1000000L DIV (${s}L * (n * n - sumsq))"))
          .as("alpha_micro"))
  }

  /** Exact Shapley-value channel attribution (Shapley 1953; the
    * coalition-game closer of the attribution family beside last-touch
    * q147 and Markov removal-effect q210, per Zhao et al. 2018,
    * "Shapley Value Methods for Attribution Modeling"): the
    * characteristic function v(S) is the observed conversion rate of
    * users whose touched-channel set is EXACTLY S (micro-quantized;
    * unobserved coalitions contribute v = 0, v(∅) = 0 by
    * normalization), and each channel's worth is its average marginal
    * contribution over all join orders:
    *
    *   φ_i = Σ_{S ⊆ N∖{i}} |S|!·(n−1−|S|)! · (v(S∪{i}) − v(S)) / n!
    *
    * Everything after the user rollup is EXACT INTEGER arithmetic on
    * the micro-quantized v: weights are factorial products (n ≤
    * `maxChannels` ≤ 12 keeps 11! in an int), φ is reported as the
    * exact numerator (units micro·n!) plus its floor-div micro value
    * (floor implemented as (x − pmod(x, n!)) DIV n! so negative
    * numerators round identically in any engine).
    *
    * Scale shape: ONE corpus exchange (the per-user bitmask rollup:
    * distinct (user, bit) then sum of distinct powers); the coalition
    * table is ≤ 2^n rows and the lattice walk (n·2^(n−1) marginal
    * terms) is model-size — broadcast joins, no corpus-size state.
    * The channel alphabet is collected to the driver (bounded by
    * `maxChannels`, loud failure beyond) so bit assignment needs no
    * global window.
    *
    * Output: one row per channel — (channel, n_users touching it,
    * shapley_num, shapley_micro), where Σ_i shapley_num =
    * n!·(v(observed full-ish masks telescoped)) exactly.
    */
  def shapleyAttribution(df: DataFrame, user: Column, channel: Column,
                         conversion: Column,
                         maxChannels: Int = 12): DataFrame = Materialize.scope {
    require(maxChannels >= 1 && maxChannels <= 12,
      "shapley lattice is 2^n; maxChannels must be in [1, 12]")
    val spark = df.sparkSession
    import spark.implicits._
    val ev = df.select(user.as("u"), channel.as("ch"), conversion.as("cv"))
    val chanVals = ev.filter(!col("cv")).select(col("ch"))
      .distinct().as[String].collect().sorted
    require(chanVals.nonEmpty && chanVals.length <= maxChannels,
      s"shapleyAttribution: ${chanVals.length} channels exceeds " +
        s"maxChannels=$maxChannels (lattice would be 2^n)")
    val n = chanVals.length
    val bits = broadcast(chanVals.zipWithIndex
      .map { case (c, i) => (c, i.toLong) }.toSeq.toDF("ch", "bit"))
    val touched = ev.filter(!col("cv")).join(bits, "ch")
      .select(col("u"), col("bit")).distinct()
    val perUser = touched
      .groupBy("u")
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))"))
        .as("mask"))
      .join(ev.groupBy("u")
        .agg(max(when(col("cv"), 1L).otherwise(0L)).as("conv")), "u")
    val coal = perUser.groupBy("mask")
      .agg(count(lit(1)).as("n_users"), sum("conv").as("n_conv"))
      .select(col("mask"), expr("n_conv * 1000000L DIV n_users").as("v"))
    val lattice = Materialize.persist(
      spark.range(1L << n).select(col("id").as("mask"))
        .join(coal, Seq("mask"), "left")
        .select(col("mask"),
          when(col("mask") === 0L, 0L)
            .otherwise(coalesce(col("v"), lit(0L))).as("v")))
    // fact(i) = i! for i in 0..12 (11! still fits comfortably in long)
    val fact = (1 to 12).scanLeft(1L)((a, i) => a * i)
    val factLit = array(fact.take(12).map(lit(_)): _*)
    val nFact = fact(n) // n!
    val terms = bits.crossJoin(lattice)
      .filter(expr("shiftright(mask, CAST(bit AS INT)) % 2 = 0"))
      .withColumn("s", bit_count(col("mask")).cast("int"))
      .withColumn("w",
        element_at(factLit, col("s") + 1) *
          element_at(factLit, lit(n) - col("s")))
      .join(lattice.select(col("mask").as("mask_up"), col("v").as("v_up")),
        expr("mask_up = mask + shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))"))
      .select(col("ch"), (col("w") * (col("v_up") - col("v"))).as("t"))
    val perChanUsers = touched.join(bits, "bit")
      .groupBy("ch").agg(count(lit(1)).as("n_users"))
    Materialize.localCheckpoint(
      terms.groupBy("ch").agg(sum("t").as("shapley_num"))
        .withColumn("shapley_micro", expr(
          s"(shapley_num - pmod(shapley_num, ${nFact}L)) DIV ${nFact}L"))
        .join(perChanUsers.select(col("ch"), col("n_users")), "ch")
        .select(col("ch").as("channel"), col("n_users"),
          col("shapley_num"), col("shapley_micro")))
  }

  /** Corpus-level BLEU COMPONENTS (Papineni et al. 2002) — everything
    * in BLEU that is exact: per n-gram order the corpus-summed
    * clipped matches and candidate-gram totals (the modified
    * precisions' numerators/denominators), plus the corpus candidate
    * and reference token lengths the brevity penalty needs. The final
    * composition — exp(Σ ln(m_n/c_n)/N) · min(1, exp(1−r/c)) — is
    * irreducibly float, so it stays caller-side, keeping the gate
    * bit-exact (the [[rougeN]] rationale).
    *
    * Clipped matches are computed ROW-LOCALLY per pair
    * ([[graft.expressions.TokenGramMatches]] — one hash-count pass per
    * order), then one global aggregate rolls the corpus up: no gram
    * row ever shuffles. Empty/short sides contribute zero grams at
    * the orders they can't fill — sacrebleu's convention.
    *
    * Output: one row per order — (n, n_matches, n_cand_ngrams,
    * cand_tokens, ref_tokens); the length columns repeat on every
    * row (corpus constants).
    */
  def bleuComponents(df: DataFrame, idCol: String, candCol: Column,
                     refCol: Column, maxN: Int = 4): DataFrame = {
    require(maxN >= 1 && maxN <= 8, "maxN must be in [1, 8]")
    // Fanout: the per-row gram hashing below is the whole operator —
    // an unsplittable one-row-group scan would run it on one core
    // (guide §2.5; no-op when the scan already has enough partitions)
    val base = Fanout.ensure(df.select(col(idCol).as("pid"),
      TextAnalysis.tokens(candCol).as("ct"),
      TextAnalysis.tokens(refCol).as("rt")))
    // blank text tokenizes to [''] — count it as zero tokens
    def nTok(tc: String): Column = expr(
      s"CASE WHEN size($tc) = 1 AND $tc[0] = '' THEN 0L " +
        s"ELSE CAST(size($tc) AS BIGINT) END")
    // Row-local clipped matches ([[graft.expressions.TokenGramMatches]]
    // — the ChrfMatches rationale applied to token grams): both sides
    // of a pair live in the SAME row, so m_n is a pure row function.
    // The previous side-tagged aggregation exploded maxN × corpus-token
    // gram rows through one exchange + grouped counts (measured
    // 3.6–5.2 s at sf0.1); this plan is one scalar projection + one
    // global aggregate — zero gram rows ever shuffle, and the final
    // reshape is a stack over ONE driver-visible row (r16).
    val perRow = base.select(
      org.apache.spark.sql.GraftShim.column(
        graft.expressions.TokenGramMatches(
          org.apache.spark.sql.GraftShim.expression(col("ct")),
          org.apache.spark.sql.GraftShim.expression(col("rt")),
          1, maxN)).as("ms"),
      nTok("ct").as("c"), nTok("rt").as("r"))
    val aggCols =
      (1 to maxN).map(k => sum(element_at(col("ms"), k)).as(s"m_$k")) ++
      (1 to maxN).map(k =>
        sum(greatest(col("c") - lit(k.toLong) + 1L, lit(0L))).as(s"t_$k")) ++
      Seq(coalesce(sum(col("c")), lit(0L)).as("cand_tokens"),
        coalesce(sum(col("r")), lit(0L)).as("ref_tokens"),
        count(lit(1)).as("n_rows"))
    val onerow = perRow.agg(aggCols.head, aggCols.tail: _*)
    val stackArgs = (1 to maxN).map(k =>
      s"${k}L, coalesce(m_$k, 0L), t_$k").mkString(", ")
    // n_rows guard keeps the empty-input contract of the old
    // orders-join shape: zero input rows -> zero output rows (a global
    // agg alone would emit maxN all-null rows)
    onerow.filter(col("n_rows") > 0)
      .select(expr(s"stack($maxN, $stackArgs)" +
          " AS (n, n_matches, n_cand_ngrams)"),
        col("cand_tokens"), col("ref_tokens"))
      .select(col("n"), col("n_matches"), col("n_cand_ngrams"),
        col("cand_tokens"), col("ref_tokens"))
  }

  /** ROUGE-N per (candidate, reference) text pair — the n-gram
    * overlap family every generation-eval harness reports (Lin 2004),
    * chosen over BLEU for the gate because ROUGE is EXACTLY rational:
    * with clipped matches m = Σ_g min(count_cand(g), count_ref(g)),
    * candidate total c and reference total r,
    *
    *   precision = m/c,  recall = m/r,  F1 = 2pr/(p+q) = 2m/(c+r)
    *
    * — three integer divisions, no geometric mean, no brevity-penalty
    * exp, so the whole metric micro-quantizes losslessly and replays
    * bit-for-bit in SQL. (BLEU's clipped-match NUMERATORS per order
    * are this same table; only its exp/log composition is float — a
    * caller can compose it from these counts.)
    *
    * Multiplicity matters and is honored: grams count with repeats on
    * both sides and the min() clips per distinct gram (the "modified
    * precision" rule) — computed ROW-LOCALLY per pair
    * ([[graft.expressions.TokenGramMatches]]: both sides live in the
    * same row, so the former per-side grouped counts + (pair, gram)
    * equi-join shuffled corpus-gram rows to derive a pure row
    * function; this is a shuffle-free scalar projection, r16).
    *
    * Empty sides follow the reference implementations: a candidate or
    * reference shorter than n tokens has zero grams on that side —
    * m = 0 and the affected ratios are 0 (not NULL), the
    * sacrebleu/rouge-score convention.
    *
    * Output: (idCol, n_matches, n_cand, n_ref, p_micro, r_micro,
    * f_micro).
    */
  def rougeN(df: DataFrame, idCol: String, candCol: Column,
             refCol: Column, n: Int = 2): DataFrame = {
    require(n >= 1, "n must be >= 1")
    // Fanout: the per-row gram hashing below is the whole operator —
    // an unsplittable one-row-group scan would run it on one core
    // (guide §2.5; no-op when the scan already has enough partitions)
    val base = Fanout.ensure(df.select(col(idCol).as("pid"),
      TextAnalysis.tokens(candCol).as("ct"),
      TextAnalysis.tokens(refCol).as("rt")))
    val totals = base.select(col("pid"),
      coalesce(element_at(
        org.apache.spark.sql.GraftShim.column(
          graft.expressions.TokenGramMatches(
            org.apache.spark.sql.GraftShim.expression(col("ct")),
            org.apache.spark.sql.GraftShim.expression(col("rt")),
            n, n)), 1), lit(0L)).as("n_matches"),
      expr(s"""CASE WHEN size(ct) >= $n AND NOT (size(ct) = 1
          AND ct[0] = '') THEN CAST(size(ct) - $n + 1 AS BIGINT)
        ELSE 0L END""").as("n_cand"),
      expr(s"""CASE WHEN size(rt) >= $n AND NOT (size(rt) = 1
          AND rt[0] = '') THEN CAST(size(rt) - $n + 1 AS BIGINT)
        ELSE 0L END""").as("n_ref"))
    totals
      .select(col("pid").as(idCol),
        col("n_matches"),
        col("n_cand"), col("n_ref"),
        expr("CASE WHEN n_cand > 0 THEN " +
          "coalesce(n_matches, 0L) * 1000000L DIV n_cand " +
          "ELSE 0L END").as("p_micro"),
        expr("CASE WHEN n_ref > 0 THEN " +
          "coalesce(n_matches, 0L) * 1000000L DIV n_ref " +
          "ELSE 0L END").as("r_micro"),
        expr("CASE WHEN n_cand + n_ref > 0 THEN " +
          "2L * coalesce(n_matches, 0L) * 1000000L DIV (n_cand + n_ref) " +
          "ELSE 0L END").as("f_micro"))
  }

  /** ROUGE-L per (candidate, reference) pair — the LCS member that
    * completes the [[rougeN]]/[[bleuComponents]] generation-eval
    * family (Lin 2004 §3): subsequence overlap rewards in-order
    * agreement without requiring consecutive grams. Like ROUGE-N it
    * is EXACTLY rational — with L = token-level LCS length, candidate
    * tokens c and reference tokens r,
    *
    *   P = L/c,  R = L/r,  F1 = 2PR/(P+R) = 2L/(c+r)
    *
    * — so the gate replays bit-for-bit (the harmonic-F convention of
    * the rouge-score library; Lin's β-weighted F_lcs is a caller-side
    * reweighting of the same three integers).
    *
    * The LCS itself is [[graft.expressions.LcsLength]] — a primitive
    * two-row DP per pair, O(c·r) time and O(r) state, bounded by the
    * two documents' own lengths. The whole operator is one scalar
    * projection + no join at all: it distributes like any map and
    * never shuffles (the per-pair DP is the irreducible cost; at
    * 100 TB it rides whatever partitioning the pair table already
    * has).
    *
    * Empty sides follow [[rougeN]]: a blank candidate or reference
    * has zero tokens, L = 0, and the affected ratios are 0 (not
    * NULL).
    *
    * Output: (idCol, n_lcs, n_cand, n_ref, p_micro, r_micro,
    * f_micro).
    */
  def rougeL(df: DataFrame, idCol: String, candCol: Column,
             refCol: Column): DataFrame = {
    def toks(c: Column): Column = {
      val t = TextAnalysis.tokens(c)
      // split('') = [''] — normalize the blank-side artifact to a
      // true empty array so token counts and the DP agree
      when(size(t) === 1 && t.getItem(0) === "",
        expr("CAST(array() AS ARRAY<STRING>)")).otherwise(t)
    }
    // Fanout: see bleuComponents — the per-pair O(c·r) DP dominates
    val base = Fanout.ensure(df.select(col(idCol).as("pid"),
      toks(candCol).as("ct"), toks(refCol).as("rt")))
    base.select(col("pid").as(idCol),
        org.apache.spark.sql.GraftShim.column(
          graft.expressions.LcsLength(
            org.apache.spark.sql.GraftShim.expression(col("ct")),
            org.apache.spark.sql.GraftShim.expression(col("rt"))))
          .as("n_lcs"),
        size(col("ct")).cast("long").as("n_cand"),
        size(col("rt")).cast("long").as("n_ref"))
      .select(col(idCol), col("n_lcs"), col("n_cand"), col("n_ref"),
        expr("CASE WHEN n_cand > 0 THEN n_lcs * 1000000L DIV n_cand " +
          "ELSE 0L END").as("p_micro"),
        expr("CASE WHEN n_ref > 0 THEN n_lcs * 1000000L DIV n_ref " +
          "ELSE 0L END").as("r_micro"),
        expr("CASE WHEN n_cand + n_ref > 0 THEN " +
          "2L * n_lcs * 1000000L DIV (n_cand + n_ref) " +
          "ELSE 0L END").as("f_micro"))
  }

  /** chrF per (candidate, reference) pair (Popović, WMT 2015) — the
    * CHARACTER n-gram F-score completing the generation-eval family
    * beside the word-level [[rougeN]]/[[rougeL]]/[[bleuComponents]]:
    * robust to tokenization and morphology (a stem match earns
    * partial credit where word-level metrics score zero), the
    * standard MT metric for morphologically rich targets.
    *
    * Definition implemented, stated precisely: whitespace is removed
    * (the chrF convention — word boundaries carry no character
    * signal); for each order n ∈ 1..maxN, clipped-count matches
    * m_n = Σ_g min(count_cand, count_ref) over char n-grams and
    * per-order P_n = m_n/c_n, R_n = m_n/r_n (an order with an empty
    * gram set scores 0 — the zero back-off variant; sacrebleu's
    * effective-order averaging is a documented divergence); chrP/chrR
    * are the arithmetic means over orders and
    * chrF_β = (1+β²)·P·R / (β²·P + R) with β = 2 by default (chrF2).
    * EXACTLY rational end to end: per-order micros are floored BIGINT
    * quotients (order-free — the [[bleuComponents]] discipline), the
    * order average is one more floor, and the final F is one integer
    * division on micro quantities ((1+β²)·P·R ≤ 5·10¹² — far inside
    * int64). The whole pipeline replays bit-for-bit in SQL.
    *
    * Plan: a SHUFFLE-FREE scalar projection — the per-order clipped
    * matches are a pure function of the row, computed by the native
    * [[graft.expressions.ChrfMatches]] expression (one hash-count
    * pass per order, per-row-bounded state), and the P/R/F
    * composition is one `aggregate` fold over the maxN-length match
    * array. The first, relational formulation exploded char n-grams
    * through two grouped counts and a join — maxN × corpus-character
    * shuffle rows, measured 12.8 s at sf0.1 vs ~1 s for this plan;
    * the arithmetic is identical.
    *
    * Output per pair: (idCol, chrp_micro, chrr_micro, chrf_micro).
    */
  def chrF(df: DataFrame, idCol: String, candCol: Column,
           refCol: Column, maxN: Int = 6, beta: Int = 2): DataFrame = {
    require(maxN >= 1 && maxN <= 16, "maxN must be in [1, 16]")
    require(beta >= 1, "beta must be >= 1")
    val b2 = beta.toLong * beta
    // Fanout: see bleuComponents — per-row char-gram hashing dominates
    val base = Fanout.ensure(df.select(col(idCol).as("pid"),
      regexp_replace(trim(candCol), "\\s+", "").as("c"),
      regexp_replace(trim(refCol), "\\s+", "").as("r")))
    base.select(col("pid"),
        length(col("c")).cast("long").as("lc"),
        length(col("r")).cast("long").as("lr"),
        org.apache.spark.sql.GraftShim.column(
          graft.expressions.ChrfMatches(
            org.apache.spark.sql.GraftShim.expression(col("c")),
            org.apache.spark.sql.GraftShim.expression(col("r")),
            maxN)).as("ms"))
      .select(col("pid"),
        expr(s"""aggregate(sequence(1, $maxN), 0L, (acc, n) -> acc +
            CASE WHEN lc - n + 1 > 0 THEN
              element_at(ms, n) * 1000000L DIV (lc - n + 1)
            ELSE 0L END) DIV $maxN""").as("chrp_micro"),
        expr(s"""aggregate(sequence(1, $maxN), 0L, (acc, n) -> acc +
            CASE WHEN lr - n + 1 > 0 THEN
              element_at(ms, n) * 1000000L DIV (lr - n + 1)
            ELSE 0L END) DIV $maxN""").as("chrr_micro"))
      .select(col("pid").as(idCol), col("chrp_micro"), col("chrr_micro"),
        expr(s"""CASE WHEN $b2 * chrp_micro + chrr_micro > 0 THEN
            (1 + $b2) * chrp_micro * chrr_micro
              DIV ($b2 * chrp_micro + chrr_micro)
          ELSE 0L END""").as("chrf_micro"))
  }
}
