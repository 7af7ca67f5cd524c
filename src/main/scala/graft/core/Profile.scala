package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Table profiling / data-quality report: per-column completeness,
  * cardinality and range in ONE scan. The fleet-level generalization
  * of the reference's per-row validation split (`blobToCosmos.py`'s
  * skip-and-count) — the report a 100 TB ingest runs before and after
  * every pipeline stage to catch schema drift, null storms and key
  * collisions.
  *
  * One aggregation computes 4 statistics × N columns as codegen'd
  * expressions (a per-column loop over the table would be N scans);
  * the wide single row then unpivots to the tidy (column, stat) shape
  * via a `stack`-style explode — driver never sees data, just the
  * 4×N summary.
  */
object Profile {

  /** @return one row per profiled column:
    *   (column, n_rows, n_nulls, null_frac, n_distinct, min_repr, max_repr)
    *   — min/max as canonical strings so mixed-type tables profile
    *   into one frame.
    */
  def profile(df: DataFrame, columns: Seq[String] = Nil,
              approxDistinct: Boolean = false): DataFrame = {
    val cols = if (columns.nonEmpty) columns else df.columns.toSeq
    // N exact countDistincts in one aggregation rewrite through one
    // Expand (N× the scan's rows into the shuffle) — fine for a
    // profile pass; at the largest scales flip `approxDistinct` and
    // the whole report collapses to one non-expanded HLL pass.
    def dist(c: String) =
      if (approxDistinct) approx_count_distinct(col(c)).as(s"__dist_$c")
      else countDistinct(col(c)).as(s"__dist_$c")
    val aggs = Seq(count(lit(1)).as("__n")) ++ cols.flatMap { c =>
      Seq(
        count(when(col(c).isNull, 1)).as(s"__nulls_$c"),
        dist(c),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val entries = cols.map { c =>
      struct(lit(c).as("column"),
        col("__n").as("n_rows"),
        col(s"__nulls_$c").as("n_nulls"),
        round(col(s"__nulls_$c").cast("double") / greatest(col("__n"), lit(1L)), 6)
          .as("null_frac"),
        col(s"__dist_$c").as("n_distinct"),
        col(s"__min_$c").as("min_repr"),
        col(s"__max_$c").as("max_repr"))
    }
    wide.select(explode(array(entries: _*)).as("p")).select("p.*")
  }

  /** Constraint checks over a profile: each rule is (name, predicate
    * over the profile row of its column). Returns (rule, column,
    * passed, observed) — the failure report an ingest gate consumes.
    */
  final case class Check(rule: String, column: String,
                         predicate: org.apache.spark.sql.Column)

  def complete(column: String): Check =
    Check("complete", column, col("n_nulls") === 0L)
  def unique(column: String): Check =
    Check("unique", column, col("n_distinct") === col("n_rows") - col("n_nulls"))
  def nonEmpty(column: String): Check =
    Check("non_empty", column, col("n_rows") > 0L)

  /** Population-Stability-Index drift report: how far each group's
    * distribution of a bucketed feature sits from the WHOLE
    * population's — the standard monitoring stat a 100 TB ingest runs
    * per source/day to catch silent distribution shift before it
    * poisons a training mix.
    *
    *   PSI(g) = Σ_buckets (p_b − q_b) · ln(p_b / q_b)
    *
    * with p = group share, q = population share, add-one smoothed
    * over the DENSE bucket range (so empty buckets contribute their
    * smoothed mass instead of vanishing — an absent bucket is exactly
    * the drift signal). Per-bucket terms are floored to 1e-6
    * fixed-point BIGINTs before the sum, so the per-group total is
    * order-free across engines; ln ulp is the only cross-engine
    * surface (the accepted q68/q101 class).
    *
    * Scale shape: ONE scan aggregates (group, bucket) counts
    * (map-side combine); everything after operates on the
    * groups × nBuckets grid — densified by a broadcast
    * `sequence`-explode, population shares broadcast back. Shuffled
    * rows carry (group, bucket, BIGINT), never feature values.
    *
    * @param bucket expression over `df`'s columns yielding an integer
    *               in [0, nBuckets) — e.g.
    *               `least(col("n_tokens") / 32, lit(nBuckets - 1))`
    * @return (groupCol, psi_micro, n_rows) one row per group
    */
  def psi(df: DataFrame, groupCol: String, bucket: org.apache.spark.sql.Column,
          nBuckets: Int): DataFrame = {
    require(nBuckets >= 2, "psi needs at least 2 buckets")
    val counts = df
      .select(col(groupCol), bucket.cast("long").as("__b"))
      .groupBy(col(groupCol), col("__b"))
      .agg(count(lit(1)).as("__c"))
    val groups = counts.groupBy(groupCol).agg(sum("__c").as("__gt"))
    val pop = counts.groupBy("__b").agg(sum("__c").as("__pc"))
    val popTotal = pop.agg(sum("__pc").as("__pt"))
    // dense (group, bucket) grid: absent buckets get count 0 and the
    // add-one smoothing keeps every log argument finite
    val grid = groups
      .select(col(groupCol), col("__gt"),
        explode(sequence(lit(0L), lit(nBuckets.toLong - 1))).as("__b"))
      .join(counts, Seq(groupCol, "__b"), "left")
      .join(broadcast(pop), Seq("__b"), "left")
      .crossJoin(broadcast(popTotal))
    val nB = lit(nBuckets.toLong)
    val p = (coalesce(col("__c"), lit(0L)) + lit(1L)).cast("double") /
      (col("__gt") + nB).cast("double")
    val q = (coalesce(col("__pc"), lit(0L)) + lit(1L)).cast("double") /
      (col("__pt") + nB).cast("double")
    val term = floor(lit(1000000.0) * ((p - q) * log(p / q))).cast("long")
    grid.select(col(groupCol), term.as("__t"), col("__gt"))
      .groupBy(col(groupCol), col("__gt"))
      .agg(sum("__t").as("psi_micro"))
      .select(col(groupCol), col("psi_micro"), col("__gt").as("n_rows"))
  }

  /** Two-sample Kolmogorov–Smirnov drift report: for each group, the
    * maximum absolute gap between the group's bucketed CDF and the
    * whole population's — PSI's rank-statistic sibling (sensitive to
    * location shift where PSI is sensitive to per-bucket mass, and the
    * standard pairing on a monitoring dashboard).
    *
    *   KS(g) = max_b | cum_g(b)/n_g − cum_pop(b)/n_pop |
    *
    * Exactness: unlike PSI there is NO transcendental anywhere —
    * every step (count, integer cumulative sum, one correctly-rounded
    * IEEE division per side, subtraction, abs, max, ×1e6, floor) is
    * deterministic and ORDER-FREE (max, not sum), so the fixed-point
    * result is bit-identical across engines with no accepted ulp
    * surface at all.
    *
    * Scale shape: ONE scan aggregates (group, bucket) counts
    * (map-side combine); the dense groups × nBuckets grid is the only
    * thing that shuffles after that, and the cumulative windows run
    * over ≤ nBuckets rows per group partition. Population counts
    * broadcast back into the grid. Feature values never shuffle.
    *
    * @param bucket expression over `df`'s columns yielding an integer
    *               in [0, nBuckets)
    * @return (groupCol, ks_micro, n_rows) one row per group
    */
  def ks(df: DataFrame, groupCol: String, bucket: org.apache.spark.sql.Column,
         nBuckets: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nBuckets >= 2, "ks needs at least 2 buckets")
    val counts = df
      .select(col(groupCol), bucket.cast("long").as("__b"))
      .groupBy(col(groupCol), col("__b"))
      .agg(count(lit(1)).as("__c"))
    val groups = counts.groupBy(groupCol).agg(sum("__c").as("__gt"))
    val pop = counts.groupBy("__b").agg(sum("__c").as("__pc"))
    val popTotal = pop.agg(sum("__pc").as("__pt"))
    // dense (group, bucket) grid so a bucket the group never hits
    // still advances the population CDF against a flat group CDF —
    // exactly the gap KS measures
    val grid = groups
      .select(col(groupCol), col("__gt"),
        explode(sequence(lit(0L), lit(nBuckets.toLong - 1))).as("__b"))
      .join(counts, Seq(groupCol, "__b"), "left")
      .join(broadcast(pop), Seq("__b"), "left")
      .crossJoin(broadcast(popTotal))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumG = sum(coalesce(col("__c"), lit(0L))).over(w)
    val cumP = sum(coalesce(col("__pc"), lit(0L))).over(w)
    val gap = abs(cumG.cast("double") / col("__gt").cast("double")
      - cumP.cast("double") / col("__pt").cast("double"))
    grid.select(col(groupCol), col("__gt"), gap.as("__gap"))
      .groupBy(col(groupCol), col("__gt"))
      .agg(floor(lit(1000000.0) * max(col("__gap"))).cast("long").as("ks_micro"))
      .select(col(groupCol), col("ks_micro"), col("__gt").as("n_rows"))
  }

  /** Exact two-sample Wasserstein-1 (earth-mover) distance per group —
    * the drift metric that weighs HOW FAR mass moved, where KS ([[ks]])
    * only sees the largest CDF gap and PSI ([[psi]]) only per-bucket
    * mass ratios. On a discrete integer lattice the closed form is the
    * CDF-difference integral (Ramdas et al. 2017 form):
    *
    *   W1 = Σ_v |F_a(v) − F_b(v)| · (v_next − v)
    *
    * summed over the merged support. All-integer: per-(group, value)
    * arm counts, cumulative sums, the |cumA·nB − cumB·nA| cross-scaled
    * numerator (common denominator n_a·n_b deferred to ONE final
    * positive DIV), gaps from a per-group lead(). Output w1 split as
    * whole cents + a micro fraction from the REMAINDER (never
    * num·1e6 — that product would overflow first), so the pair is
    * exact at any magnitude the BIGINT sum itself survives:
    * n_a·n_b·range(cents) < 2^63 covers ~10^7 rows/arm/group at this
    * value range; beyond that the identical sums feed DECIMAL(38)
    * (the q273 discipline).
    *
    * Scale shape: one scan to (group, value, armed counts) with
    * map-side combine; windows (cumsum, lead) partition by GROUP over
    * the value lattice — bounded by distinct cents values, never raw
    * rows; totals broadcast back. Groups with an empty arm drop
    * (distance to an empty distribution is undefined).
    *
    * @param arm boolean column: true → arm a, false → arm b
    * @return (groupCol, n_a, n_b, w1_num, w1_cents, w1_frac_micro)
    */
  def wasserstein1(df: DataFrame, groupCol: String,
                   valueCents: org.apache.spark.sql.Column,
                   arm: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(col(groupCol), valueCents.as("__v"), arm.as("__arm"))
      .groupBy(col(groupCol), col("__v"))
      .agg(sum(when(col("__arm"), 1L).otherwise(0L)).as("__ca"),
        sum(when(!col("__arm"), 1L).otherwise(0L)).as("__cb"))
    val tot = counts.groupBy(groupCol)
      .agg(sum("__ca").as("n_a"), sum("__cb").as("n_b"))
      .filter(col("n_a") > 0L && col("n_b") > 0L)
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__v"))
    val cum = counts
      .withColumn("__cuma", sum("__ca").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__cumb", sum("__cb").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__gap",
        coalesce(lead(col("__v"), 1).over(w) - col("__v"), lit(0L)))
    cum.join(tot, Seq(groupCol))
      .select(col(groupCol), col("n_a"), col("n_b"),
        (abs(col("__cuma") * col("n_b") - col("__cumb") * col("n_a"))
          * col("__gap")).as("__t"))
      .groupBy(col(groupCol), col("n_a"), col("n_b"))
      .agg(sum("__t").as("w1_num"))
      .select(col(groupCol), col("n_a"), col("n_b"), col("w1_num"),
        expr("w1_num DIV (n_a * n_b)").as("w1_cents"),
        expr("(w1_num % (n_a * n_b)) * 1000000L DIV (n_a * n_b)")
          .as("w1_frac_micro"))
  }

  /** Functional-dependency discovery over a column set — the schema-
    * inference side of profiling ([[columnProfile]] measures single
    * columns; this measures DETERMINATION between them): for every
    * ordered pair (a, b), does a → b hold, and if not, how many a-keys
    * violate it. The workhorse behind key detection, denormalization
    * audits, and "is this column derivable" curation questions (TANE/
    * FDEP territory, restricted to the single-column lhs that covers
    * the overwhelmingly common case).
    *
    * Scale shape: ONE corpus scan melts each row into its p·(p−1)
    * (pair, lhs, rhs) triples via a generator, then one grouped
    * countDistinct per (pair, lhs-value) and a per-pair rollup —
    * shuffles carry value pairs, state is bounded by Σ per-pair
    * distinct lhs values. Never p² separate scans.
    *
    * Output per ordered pair: (lhs, rhs, n_keys, n_viol_keys,
    * max_rhs_per_key, holds). NULL is one more value (null-safe
    * grouping semantics both engines share).
    */
  def functionalDependencies(df: DataFrame,
                             cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    val triples = cols.flatMap(a => cols.filter(_ != a).map(a -> _))
    // Fanout: the k·(k−1)-way melt explode (with its per-cell string
    // casts) runs BEFORE the first exchange — on a one-row-group scan
    // it serializes on one core (guide §2.5; no-op at scale). Project
    // to the audited columns first so the fan-out moves narrow rows.
    val base = Fanout.ensure(df.select(cols.map(col): _*))
    val melted = base.select(explode(array(triples.map { case (a, b) =>
      struct(lit(a).as("lhs"), lit(b).as("rhs"),
        col(a).cast("string").as("lv"), col(b).cast("string").as("rv"))
    }: _*)).as("t")).select(col("t.*"))
    melted.groupBy("lhs", "rhs", "lv")
      // countDistinct skips NULLs, so a NULL rhs adds one more value
      // explicitly — otherwise an lhs key mapping to {NULL, 'x'} got
      // nd=1 and the pair wrongly reported holds=true (ADVICE r12)
      .agg((countDistinct(col("rv")) +
        max(when(col("rv").isNull, 1L).otherwise(0L))).as("nd"))
      .groupBy("lhs", "rhs")
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("nd") > 1L, 1L).otherwise(0L)).as("n_viol_keys"),
        max("nd").as("max_rhs_per_key"))
      .withColumn("holds", col("n_viol_keys") === 0L)
  }

  /** Quantile normalization — map every source's value distribution
    * onto the GLOBAL empirical distribution (the microarray-era
    * cross-sample normalizer, Bolstad et al. 2003, reborn as a
    * cross-source feature equalizer): a row at per-source rank r of
    * n_s becomes the global order statistic at position
    * ⌈r·N / n_s⌉ — afterwards every source has (up to rank rounding)
    * the SAME marginal distribution, so per-source scale/shift
    * artifacts can't leak into downstream gates.
    *
    * Exact integer semantics: ranks are 1-based with id tie-breaks,
    * the target position is one integer ceil, the normalized value is
    * the actual global value AT that rank (never an interpolation).
    *
    * Scale shape: NO per-source window (a 20-source corpus would put
    * 5% of all rows in one window partition) — both rank passes are
    * [[PrefixScan]] row ranks: one pass in
    * (source, value, id) order whose per-source MIN gives each
    * source's rank offset (per-source rank = global position − source
    * start + 1), one pass in (value, id) order for the global order
    * statistics; the rematch is one corpus equi-join on the target
    * rank. Source-start/size tables are source-alphabet-sized
    * broadcasts.
    *
    * Output: every input row + `src_rank`, `n_source`, `qnorm` (the
    * normalized value).
    */
  def quantileNormalize(df: DataFrame, idCol: String, sourceCol: String,
                        valueCol: String): DataFrame = Materialize.scope {
    val base = df.select(col(idCol), col(sourceCol), col(valueCol))
    val bysrc = PrefixScan(base,
      Seq(col(sourceCol), col(valueCol), col(idCol)),
      PrefixScan.RowRank("__r")).rows
    val starts = bysrc.groupBy(sourceCol)
      .agg(min("__r").as("__s0"), count(lit(1)).as("n_source"))
    val ranked = bysrc.join(broadcast(starts), Seq(sourceCol))
      .select(col(idCol), col(sourceCol), col(valueCol),
        (col("__r") - col("__s0") + 1L).as("src_rank"),
        col("n_source"))
    val byval = PrefixScan(base.select(col(idCol), col(valueCol)),
      Seq(col(valueCol), col(idCol)), PrefixScan.RowRank("__grank")).rows
    val globalStats = byval.select(col("__grank"),
      col(valueCol).as("qnorm"))
    val n = globalStats.agg(max("__grank").as("__n"))
    Materialize.localCheckpoint(ranked.crossJoin(broadcast(n))
      .withColumn("__target",
        expr("(src_rank * __n + n_source - 1) DIV n_source"))
      .join(globalStats, col("__target") === col("__grank"))
      .select(col(idCol), col(sourceCol), col(valueCol),
        col("src_rank"), col("n_source"), col("qnorm")))
  }

  /** Benford first-digit audit — the forensic data-quality stat:
    * natural multi-scale magnitudes (prices, populations, file
    * sizes) lead with digit d at probability log10(1+1/d); synthetic,
    * capped or fabricated columns don't. Emits the 9-row digit grid —
    * observed count, exact micro share (count·1e6 DIV n), the Benford
    * expectation as a fixed micro literal (same constant both
    * engines — no log10 at runtime), and the absolute deviation.
    * All BIGINT end to end: first digit by string head of the floored
    * value, a dense 1–9 spine so an absent digit SHOWS as a 0-count
    * row (absence is the signal), one grouped count + one broadcast
    * total. Values below 1 are out of scope (no leading digit) and
    * are filtered, counted into neither side.
    */
  def benford(df: DataFrame, value: org.apache.spark.sql.Column): DataFrame = {
    val benfordMicro = Seq(301030L, 176091L, 124939L, 96910L, 79181L,
      66947L, 57992L, 51153L, 45757L)
    val obs = df
      .select(value.cast("double").as("__v"))
      .filter(col("__v") >= 1.0)
      .select(expr("CAST(substring(CAST(CAST(floor(__v) AS BIGINT) AS STRING), 1, 1) AS BIGINT)")
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val total = obs.agg(sum("n_obs").as("__n"))
    val spark = df.sparkSession
    import spark.implicits._
    val spine = benfordMicro.zipWithIndex
      .map { case (m, i) => (i + 1L, m) }.toDF("digit", "benford_micro")
    spine.join(obs, Seq("digit"), "left")
      .crossJoin(broadcast(total))
      .select(col("digit"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        expr("coalesce(n_obs, 0L) * 1000000 DIV __n").as("share_micro"),
        col("benford_micro"))
      .withColumn("dev_micro", abs(col("share_micro") - col("benford_micro")))
  }

  /** ANALYZE-style per-column statistics card: rows / nulls / distinct
    * count per column — the optimizer-feeding table stats pass. NDV
    * comes from the deterministic HLL register sketch
    * ([[Sketches.hllRegisters]]: ONE bounded m×cols state instead of
    * a per-column COUNT(DISTINCT) expand — at 100 TB the expand is a
    * full shuffle of every column's values, the sketch is map-side
    * combinable integers), with the exact NDV joined alongside as the
    * gate's audit. One stack projection feeds both passes; callers
    * pass STRING-SAFE columns (integers, strings, dates — float
    * formatting differs across engines).
    */
  def analyzeTable(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "analyzeTable needs columns")
    val stackExpr = cols.map(c => s"'$c', CAST(`$c` AS STRING)")
      .mkString(s"stack(${cols.size}, ", ", ", ")")
    val stacked = df.select(expr(stackExpr).as(Seq("cname", "sval")))
    val basics = stacked.groupBy("cname").agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("sval").isNull, 1L).otherwise(0L)).as("n_nulls"),
      countDistinct(col("sval")).as("ndv_exact"))
    val est = Sketches.hllEstimate(
      Sketches.hllRegisters(stacked.filter(col("sval").isNotNull),
        col("sval"), Seq("cname")), Seq("cname"))
      .select(col("cname"), round(col("hll_estimate"), 4).as("ndv_est"))
    basics.join(est, Seq("cname"), "left")
      .select(col("cname").as("column"), col("n_rows"), col("n_nulls"),
        coalesce(col("ndv_est"), lit(0.0)).as("ndv_est"), col("ndv_exact"))
  }

  /** Equi-depth histogram — the optimizer-statistics sibling of
    * [[analyzeTable]] (min/max + NDV say nothing about skew; equal-
    * HEIGHT buckets do): `nBuckets` boundaries at the exact discrete
    * ranks ceil(i·n/k) over the distinct-value lattice (the q142
    * machinery — one grouped count + cumulative window over DISTINCT
    * values, never a corpus sort), bucket populations from cumulative
    * differences. All BIGINT; boundary buckets absorb ties (a heavy
    * value spans buckets and shows as one wide bucket with its true
    * mass — exactly the skew signal).
    */
  def equiDepthHistogram(df: DataFrame, value: org.apache.spark.sql.Column,
                         nBuckets: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nBuckets >= 2, "need at least 2 buckets")
    val byV = df.select(value.cast("long").as("v"))
      .filter(col("v").isNotNull)
      .groupBy("v").agg(count(lit(1)).as("cnt"))
    val n = byV.agg(sum("cnt").as("n"))
    val wc = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0) // distinct-value lattice
    val cum = byV.withColumn("cum", sum("cnt").over(wc))
      .crossJoin(broadcast(n))
    val spark = df.sparkSession
    import spark.implicits._
    val spine = (1 to nBuckets).map(_.toLong).toDF("bucket")
    // boundary_i = min v whose cum reaches ceil(i*n/k) == cum*k >= i*n
    val bounds = spine.crossJoin(cum)
      .filter(col("cum") * nBuckets >= col("bucket") * col("n"))
      .groupBy("bucket")
      .agg(min("v").as("hi"))
    val wb = Window.orderBy("bucket")
    bounds
      .withColumn("lo", lag("hi", 1).over(wb))
      // plain equi-join: the k-row bounds side broadcasts itself (AQE);
      // the distinct-value lattice can be arbitrarily large
      .join(cum.select(col("v").as("hi"), col("cum"), col("n")), Seq("hi"))
      .withColumn("cum_lo", coalesce(lag("cum", 1).over(wb), lit(0L)))
      .select(col("bucket"), col("lo"), col("hi"),
        (col("cum") - col("cum_lo")).as("n_rows"), col("n").as("n_total"))
  }

  /** Embedding-space drift report: for each group, the cosine
    * DISTANCE between the group's embedding centroid and the whole
    * population's — the semantic sibling of [[psi]]/[[ks]] (those
    * watch a scalar feature's distribution; this watches where each
    * source's documents LIVE in embedding space, the stat that
    * catches a crawl source drifting topic-wise while its token-length
    * histogram stays flat).
    *
    *   drift(g) = 1 − cos(Σ_g v, Σ_pop v)
    *
    * using SUM vectors, not means — cosine is scale-invariant so the
    * 1/n cancels, and sums of per-component fixed-point integers
    * (floor(v·1e6) BIGINT) are additive and ORDER-FREE: no partial-
    * aggregation order can leak into the result. The only floating
    * work is one dot product + two norms over the 64-long integer
    * sum vectors, folded in dim order with one fixed associativity
    * (the q112 seq-fold discipline), then one division, one sqrt pair
    * and one floor — every step correctly-rounded IEEE, so the
    * fixed-point result is bit-identical across engines.
    *
    * Scale shape: ONE scan explodes (group, dim, BIGINT) — 64× the
    * rows but three words each, and map-side combine collapses the
    * shuffle to the groups × dim grid. Population sums (dim rows)
    * broadcast back. Embedding payloads never shuffle; the per-group
    * fold runs over exactly `dim` elements.
    *
    * @return (groupCol, n_rows, drift_micro) one row per group;
    *         drift_micro = max(0, floor(1e6·(1−cos))) — clamped
    *         because cos(s, s) can exceed 1 by one ulp via
    *         sqrt(x)·sqrt(x) ≠ x
    */
  def centroidDrift(df: DataFrame, groupCol: String,
                    vecCol: String, dim: Int): DataFrame = {
    require(dim >= 1, "centroidDrift needs at least 1 dimension")
    val q = df
      .select(col(groupCol), posexplode(col(vecCol)).as(Seq("__d", "__v")))
      .select(col(groupCol), col("__d").cast("long").as("__d"),
        floor(col("__v").cast("double") * lit(1000000.0))
          .cast("long").as("__qv"))
    val gs = q.groupBy(col(groupCol), col("__d")).agg(sum("__qv").as("__s"))
    val pop = gs.groupBy("__d").agg(sum("__s").as("__p"))
    val n = df.groupBy(col(groupCol)).agg(count(lit(1)).as("n_rows"))
    // one 64-struct array per group, sorted by dim: the fixed fold
    // order both engines replay
    val arrs = gs.join(broadcast(pop), Seq("__d"))
      .groupBy(col(groupCol))
      .agg(sort_array(collect_list(struct(col("__d"), col("__s"), col("__p"))))
        .as("__a"))
      .select(col(groupCol),
        expr("transform(__a, x -> cast(x.__s as double))").as("__sa"),
        expr("transform(__a, x -> cast(x.__p as double))").as("__pa"))
    val dot = expr(
      "aggregate(zip_with(__sa, __pa, (x, y) -> x * y), cast(0 as double), (acc, x) -> acc + x)")
    val ns = sqrt(expr(
      "aggregate(transform(__sa, x -> x * x), cast(0 as double), (acc, x) -> acc + x)"))
    val np = sqrt(expr(
      "aggregate(transform(__pa, x -> x * x), cast(0 as double), (acc, x) -> acc + x)"))
    arrs
      .select(col(groupCol),
        greatest(lit(0L),
          floor(lit(1000000.0) * (lit(1.0) - dot / (ns * np))).cast("long"))
          .as("drift_micro"))
      .join(n, Seq(groupCol))
      .select(col(groupCol), col("n_rows"), col("drift_micro"))
  }

  def runChecks(df: DataFrame, checks: Seq[Check]): DataFrame = {
    val prof = profile(df, checks.map(_.column).distinct)
    checks.map { ck =>
      prof.filter(col("column") === ck.column)
        .select(lit(ck.rule).as("rule"), col("column"),
          ck.predicate.as("passed"),
          concat_ws("/", col("n_nulls"), col("n_distinct"), col("n_rows"))
            .as("observed"))
    }.reduce(_ unionByName _)
  }

  /** Exact covariance / correlation matrix of an embedding column's
    * dimensions — the feature-redundancy report (near-±1 correlations
    * mean wasted dimensions; the input a PCA/whitening decision reads).
    *
    * Everything up to the final correlation is fixed-point BIGINT:
    * vectors lattice to floor(x·1e6), per-dimension integer means
    * come from one pass (sum DIV n — both engines truncate toward
    * zero), and the upper-triangle centered products sum exactly
    * (order-free). Bound: |Σ(x−m)(y−m)| ≤ n·(2·maxMicro)² — BIGINT-
    * safe to ~1e6 vectors at unit-range embeddings; beyond, the same
    * sums feed DECIMAL(38). The only float ops are the final
    * cov/√(var·var) with correctly-rounded casts of exact integers —
    * identical IEEE on any engine.
    *
    * Shuffles carry (i, j, product) longs; output is dim²/2 rows
    * (model-size). One fan-out of dim² terms per vector (the q26
    * label-centroid shape, squared).
    */
  def covarianceMatrix(df: DataFrame, vecCol: String): DataFrame = {
    val vm = df.select(expr(
      s"transform($vecCol, x -> CAST(floor(x * 1000000.0) AS BIGINT))")
      .as("v"))
    val byDim = vm.select(posexplode(col("v")).as(Seq("d", "x")))
    val means = byDim.groupBy("d")
      .agg(sum("x").as("sx"), count(lit(1)).as("n"))
      .select(col("d"), expr("sx DIV n").as("m"))
    val pairs = vm
      .select(col("v"), posexplode(col("v")).as(Seq("di", "xi")))
      .select(col("di"), col("xi"),
        posexplode(col("v")).as(Seq("dj", "xj")))
      .filter(col("dj") >= col("di"))
      .join(broadcast(means.select(col("d").as("di"), col("m").as("mi"))),
        "di")
      .join(broadcast(means.select(col("d").as("dj"), col("m").as("mj"))),
        "dj")
      .groupBy("di", "dj")
      .agg(count(lit(1)).as("n"),
        sum(expr("(xi - mi) * (xj - mj)")).as("cov_sum"))
    val diag = pairs.filter(col("di") === col("dj"))
      .select(col("di").as("dd"), col("cov_sum").as("var_d"))
    pairs
      .join(broadcast(diag.select(col("dd").as("di"),
        col("var_d").as("var_i"))), "di")
      .join(broadcast(diag.select(col("dd").as("dj"),
        col("var_d").as("var_j"))), "dj")
      .select(col("di").cast("long").as("dim_i"),
        col("dj").cast("long").as("dim_j"), col("n"), col("cov_sum"),
        round(expr(
          "CAST(cov_sum AS DOUBLE) / sqrt(CAST(var_i AS DOUBLE) * CAST(var_j AS DOUBLE))"),
          6).as("corr"))
  }

  /** Top principal component of the embedding CORRELATION matrix by
    * power iteration — in-engine PCA's first axis (the whitening /
    * dimensionality decision number), float by necessity but exactly
    * replayable: the matrix entries are q175's rounded correlations
    * (identical doubles on both engines), and every sum in the
    * iteration — matrix·vector rows, the norm — is an ORDERED fold
    * (k order / dim order), so a fixed iteration count lands on
    * bit-identical components anywhere. All state is model-size:
    * dim² matrix rows, a dim-length vector per step.
    *
    * Output: (dim, component rounded 6, lambda = the final pre-
    * normalization norm, the top-eigenvalue estimate).
    */
  def pcaTopComponent(df: DataFrame, vecCol: String, dim: Int,
                      iters: Int): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val spark = df.sparkSession
    val tri = covarianceMatrix(df, vecCol)
      .select(col("dim_i").as("di"), col("dim_j").as("dj"), col("corr"))
    val full = tri.unionByName(
      tri.filter(col("di") =!= col("dj"))
        .select(col("dj").as("di"), col("di").as("dj"), col("corr")))
    // persist: every power iteration references the matrix rows, and
    // each iteration's broadcast subtree would otherwise re-derive the
    // WHOLE covariance aggregation (measured: q176 ≈ iters × q175's
    // covariance cost). dim² cells — model-size (guide §5).
    val mm = Materialize.persist(full.groupBy(col("di").as("d"))
      .agg(expr("transform(sort_array(collect_list(struct(dj, corr))), " +
        "e -> e.corr)").as("mrow")))
    var xs = spark.range(1).select(
      expr(s"transform(sequence(0, ${dim - 1}), i -> ${1.0 / dim}D)")
        .as("xs"), lit(0.0).as("nrm"))
    for (_ <- 1 to iters) {
      val y = mm.crossJoin(broadcast(xs.select("xs")))
        .select(col("d"), expr(
          s"""aggregate(transform(sequence(0, ${dim - 1}),
             |  i -> element_at(mrow, i + 1) * element_at(xs, i + 1)),
             |  0D, (a, t) -> a + t)""".stripMargin).as("yd"))
      xs = y
        .agg(expr("transform(sort_array(collect_list(struct(d, yd))), " +
          "e -> e.yd)").as("ys"))
        .select(col("ys"), expr(
          "sqrt(aggregate(transform(ys, w -> w * w), 0D, (a, t) -> a + t))")
          .as("nrm"))
        .select(expr("transform(ys, v -> v / nrm)").as("xs"), col("nrm"))
    }
    xs.select(col("nrm"), posexplode(col("xs")).as(Seq("dim", "c")))
      .select(col("dim").cast("long").as("dim"),
        round(col("c"), 6).as("component"),
        round(col("nrm"), 6).as("lambda"))
  }
}
