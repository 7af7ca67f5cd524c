package graft.core

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Single-pass uniform sampling for training pipelines.
  *
  * `reservoir(df, n)`: classic per-partition reservoir (Vitter's
  * algorithm R) + a weighted driver-side merge — ONE scan, no sort, no
  * shuffle; only `numPartitions x n` candidate rows ever reach the
  * driver. Replaces the `orderBy(rand).limit(n)` idiom, which is a
  * FULL global sort of the corpus at scale.
  *
  * Deterministic for a fixed seed and input partitioning (each
  * partition's RNG is seeded by partition id; parquet splits are
  * stable for unchanged inputs).
  */
object Sampling {

  /** Per-group quota (source balancing): keep at most `cap` rows per
    * `groupCol`, chosen deterministically by `orderCol` — the corpus
    * mixing step that stops one over-represented domain/source from
    * dominating a training mix. One window over the group key (a
    * single exchange on `groupCol`); rank and the audit columns come
    * from the same window partition so no second shuffle. Skewed
    * groups sort only within their own partition — at 100 TB a
    * pathological mega-source should be pre-filtered or the rank
    * replaced by a per-group reservoir, but the quota semantics here
    * are exact, which is what the audit requires.
    *
    * Output: every input row plus `src_rank` (1-based position within
    * its group) and `quota_kept` (src_rank <= cap). Filter on
    * `quota_kept` for the balanced corpus.
    */
  def groupQuota(df: DataFrame, groupCol: String, orderCol: String,
                 cap: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col(orderCol))
    df.withColumn("src_rank", row_number().over(w))
      .withColumn("quota_kept", col("src_rank") <= cap)
  }

  /** Per-group quality-QUANTILE gate, exact variant (the FineWeb /
    * CCNet shape: "keep each source's top 25% by quality"): rank rows
    * within `groupCol` by (`scoreCol` desc, `idCol` asc — the
    * deterministic tie-break) and keep rank <= ceil(fraction·n). One
    * window exchange on the group key; rank and group size come from
    * the same partition so no second shuffle. Exact and fully
    * order-deterministic, so it oracles (q91). At 100 TB the
    * per-source sort is the cost — use [[thresholdGateByGroup]]
    * there.
    *
    * Output: every input row + `grp_rank`, `grp_n`, `kept`.
    */
  def topFractionByGroup(df: DataFrame, groupCol: String, scoreCol: String,
                         idCol: String, fraction: Double): DataFrame = {
    require(fraction > 0.0 && fraction <= 1.0, "fraction must be in (0,1]")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).desc, col(idCol))
    df.withColumn("grp_rank", row_number().over(w))
      .withColumn("grp_n",
        count(lit(1)).over(Window.partitionBy(col(groupCol))))
      .withColumn("kept", col("grp_rank") <= ceil(col("grp_n") * lit(fraction)))
  }

  /** Per-group quality-quantile gate, SCALE variant: two passes, no
    * window, no per-group sort. Pass 1 partial-aggregates an
    * approximate per-group score quantile (`percentile_approx` — S
    * tiny rows, S = #groups); pass 2 broadcast-joins the thresholds
    * back and keeps `score >= threshold`. The 100 TB shape: rows
    * never shuffle, only the S-row threshold table moves. Keeps
    * APPROXIMATELY the top (1-quantile) share per group — boundary
    * rows may differ from [[topFractionByGroup]], which is the price
    * of not sorting each source.
    */
  def thresholdGateByGroup(df: DataFrame, groupCol: String, scoreCol: String,
                           quantile: Double, accuracy: Int = 10000): DataFrame = {
    require(quantile > 0.0 && quantile < 1.0, "quantile must be in (0,1)")
    val thresholds = df.groupBy(col(groupCol))
      .agg(percentile_approx(col(scoreCol), lit(quantile), lit(accuracy))
        .as("q_threshold"))
    df.join(broadcast(thresholds), Seq(groupCol))
      .withColumn("kept", col(scoreCol) >= col("q_threshold"))
  }

  /** Deterministic stratified Bernoulli sample: keep a row iff the
    * [0,1) value of a portable hash of its `idCol` falls below its
    * stratum's fraction. Unlike `df.stat.sampleBy` (partition-seeded
    * RNG), the decision is a pure function of the ROW — identical
    * samples across re-runs, repartitions and engines, which is what
    * reproducible corpus mixes need. Unlisted strata default to
    * `defaultFraction`. One codegen'd filter, no shuffle.
    */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
                       fractions: Map[String, Double],
                       defaultFraction: Double = 0.0,
                       seed: Long = 42L): DataFrame = {
    require((fractions.values.toSeq :+ defaultFraction)
      .forall(f => f >= 0.0 && f <= 1.0), "fractions must be in [0,1]")
    val u = (pmod(xxhash64(col(idCol), lit(seed)), lit(1000000L)).cast("double")
      / 1000000.0)
    val frac = fractions.toSeq.sortBy(_._1)
      .foldLeft(lit(defaultFraction)) { case (acc, (s, f)) =>
        when(col(strataCol) === s, lit(f)).otherwise(acc)
      }
    df.filter(u < frac)
  }

  /** Deterministic train/val/test split by PORTABLE hash: the split
    * label is a pure function of the row id and seed via the engine's
    * polynomial rolling hash — reproducible across re-runs,
    * repartitions AND engines (unlike `randomSplit`, whose assignment
    * depends on partitioning, and unlike xxhash64, which only Spark
    * computes). Fractions must sum to <= 1; any remainder falls into
    * the LAST split.
    *
    * One codegen'd projection — the assignment adds a column, so the
    * same split is cheaply recomputed anywhere instead of materialized
    * and joined.
    */
  def hashSplit(df: DataFrame, idCol: String,
                splits: Seq[(String, Double)], seed: Long = 42L): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 >= 0.0)
      && splits.map(_._2).sum <= 1.0 + 1e-9,
      "split fractions must be non-negative and sum to <= 1")
    val u = pmod(TextAnalysis.rollingHash(
      concat(col(idCol).cast("string"), lit(":"), lit(seed.toString))),
      lit(1000000L)).cast("double") / 1000000.0
    val (label, _) = splits.init.foldLeft(
      (lit(splits.last._1), 0.0)) { case ((acc, cum), (name, frac)) =>
      (when(u >= cum && u < cum + frac, name).otherwise(acc), cum + frac)
    }
    df.withColumn("split", label)
  }

  /** Deterministic weighted Bernoulli sampling: keep a row iff its
    * portable per-epoch hash draw u ∈ [0, 1e6) falls under
    * `weightMicroCol` — the CONSUMER of [[graft.core.Dedup.clusterWeights]]'
    * soft-dedup weights (a cluster of size k keeps ~one expected
    * member per epoch, a different one each epoch since the draw is
    * keyed by (id, epoch)). Pure hash arithmetic: reproducible across
    * engines, partitionings and reruns, no RNG state. One narrow
    * filter — no shuffle at all.
    */
  def weightedSample(df: DataFrame, idCol: String, weightMicroCol: String,
                     epoch: Int, seed: Long = 42L): DataFrame = {
    require(epoch >= 0, "epoch must be >= 0")
    val u = pmod(TextAnalysis.rollingHash(
      concat(col(idCol).cast("string"), lit(":"), lit(epoch.toString),
        lit(":"), lit(seed.toString))), lit(1000000L))
    df.withColumn("u_micro", u)
      .filter(col("u_micro") < col(weightMicroCol))
  }

  /** Fixed-size PPS (probability-proportional-to-size) sampling per
    * stratum — sequential Poisson sampling (Ohlsson '98, the Saavedra
    * estimator family): rank rows by ξ_i = u_i / size_i and keep the n
    * smallest per stratum, so a document's inclusion probability is
    * ≈ n·size_i/Σsize — the token-budget-aware way to draw a FIXED
    * number of docs per source where Bernoulli sampling
    * ([[weightedSample]]) only fixes the EXPECTED count.
    *
    * Determinism discipline: u is the portable avalanched hash of
    * (id, seed) in [0, 1e6); the sort key is the QUANTIZED integer
    * u·1e12 DIV size (exact integer floor — no float division whose
    * ties would be engine-dependent), with the id as the total
    * tie-break. Pure function of (id, seed): reproducible across
    * engines, reruns and partitionings, and replayable in SQL.
    *
    * Scale shape: one narrow projection computes keys, one PER-STRATUM
    * rank window (partitioned — the q91 exact-gate shape) keeps n; at
    * extreme per-stratum cardinality the same key feeds a
    * percentile_approx threshold instead (the documented q91 scale
    * path). Sizes must be positive.
    */
  def ppsSample(df: DataFrame, strataCol: String, idCol: String,
                sizeCol: String, n: Int, seed: Long = 42L): DataFrame = {
    require(n >= 1, "n must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val keyed = df
      .withColumn("__size",
        when(col(sizeCol) <= 0L, expr(
          "CAST(assert_true(false, 'ppsSample: non-positive size') AS BIGINT)"))
          .otherwise(col(sizeCol).cast("long")))
      .withColumn("__u", pmod(Sketches.mix32(TextAnalysis.rollingHash(
        concat(col(idCol).cast("string"), lit(":"), lit(seed.toString)))),
        lit(1000000L)))
      .withColumn("pps_key", expr("__u * 1000000000000 DIV __size"))
    val w = Window.partitionBy(strataCol)
      .orderBy(col("pps_key").asc, col(idCol).asc)
    keyed
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= n)
      .drop("__size", "__u", "__rk", "pps_key")
  }

  /** Temperature-flattened source mixing (the multilingual/multi-source
    * sampling rule of mT5/XLM-R shape): keep source s at rate
    * (n_min / n_s)^(1−α) — α = 1 keeps the natural distribution,
    * α = 0 flattens every source to the smallest one's expected
    * count, in between damps the head sources' dominance.
    *
    * Decisions are the same portable value-hash Bernoulli as
    * [[hashSplit]]: a pure function of (id, seed), reproducible
    * across re-runs, repartitions and engines. Rates quantize to an
    * integer threshold out of 2^20, so the kept set is an exact
    * integer compare. At α = 0.5 the rate is sqrt(n_min/n_s) —
    * division and sqrt are both correctly rounded under IEEE 754, so
    * even the threshold is bit-identical across engines (general α
    * goes through pow, whose last ulp is libm's business — fine for
    * sampling, not for an oracle).
    *
    * Plan: one tiny per-source count aggregate + 1-row min, broadcast
    * back as a rate table; the corpus side is one codegen'd
    * projection + filter-free audit (`mix_kept`), no corpus shuffle.
    */
  def temperatureSample(df: DataFrame, sourceCol: String, idCol: String,
                        alpha: Double = 0.5, seed: Long = 42L): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, "alpha must be in [0,1]")
    val counts = df.groupBy(col(sourceCol)).agg(count(lit(1)).as("n_source"))
    val ratio = counts.crossJoin(
        broadcast(counts.agg(min(col("n_source")).as("n_min"))))
      .withColumn("_r", col("n_min").cast("double") / col("n_source"))
    val rate =
      if (alpha == 1.0) lit(1.0)
      else if (alpha == 0.5) sqrt(col("_r"))
      else if (alpha == 0.0) col("_r")
      else pow(col("_r"), lit(1.0 - alpha))
    val rates = ratio.select(col(sourceCol), col("n_source"),
      floor(rate * lit(1048576L)).cast("long").as("keep_below"))
    df.join(broadcast(rates), Seq(sourceCol))
      .withColumn("mix_hash", pmod(TextAnalysis.rollingHash(
        concat(col(idCol).cast("string"), lit(":"), lit(seed.toString))),
        lit(1048576L)))
      .withColumn("mix_kept", col("mix_hash") < col("keep_below"))
  }

  /** Deterministic per-epoch shuffle order: a portable pseudo-random
    * sort key per (row, epoch). Training runs need a DIFFERENT order
    * each epoch that is nonetheless exactly reproducible (resume from
    * step k, re-generate shard n) and engine/partitioning-independent
    * — `orderBy(rand(seed))` is neither. Materializing the order is
    * one range exchange (`orderBy(shuffle_key, id)`), exactly the
    * shuffle a distributed sort costs anyway.
    *
    * The epoch must NOT enter as an extra hashed character: the
    * polynomial rolling hash is AFFINE in any single character, so
    * hash(id + epoch) differs from hash(id + epoch') by the same
    * constant mod p for every row — epoch "shuffles" that are the
    * identical permutation (caught by the spec; a one-partition-sort
    * test would never see it). Instead each epoch applies a
    * multiplicative Lehmer scramble to the base id hash: key =
    * h·g^(epoch+1) + epoch (mod p) with the MINSTD multiplier
    * g = 48271 — a bijection on the residue ring with no usable
    * order structure, exact in BIGINT (p² < 2^63), and replayable in
    * any engine by iterating `(k * 48271) % p`.
    */
  def epochShuffle(df: DataFrame, idCol: String, epoch: Int,
                   seed: Long = 42L): DataFrame = {
    require(epoch >= 0, "epoch must be >= 0")
    val P = 1000000007L
    val g = 48271L
    var gE = g
    for (_ <- 0 until epoch) gE = gE * g % P
    val h = pmod(TextAnalysis.rollingHash(
      concat(col(idCol).cast("string"), lit(":"), lit(seed.toString))),
      lit(P))
    df.withColumn("shuffle_key",
      pmod(h * lit(gE) + lit(epoch.toLong), lit(P)))
  }

  def reservoirDoubles(df: DataFrame, featureCols: Seq[String], n: Int,
                       seed: Long): Array[Array[Double]] = {
    import org.apache.spark.sql.functions.col
    val proj = df.select(featureCols.map(c => col(c).cast("double")): _*)
    implicit val enc = Encoders.kryo[(Long, Array[Array[Double]])]
    val perPartition = proj
      .mapPartitions { rows =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val rng = new java.util.Random(seed ^ (pid.toLong * 0x9E3779B97F4A7C15L))
        val res = new Array[Array[Double]](n)
        var seen = 0L
        rows.foreach { r =>
          val v = Array.tabulate(featureCols.length)(i => r.getDouble(i))
          if (seen < n) res(seen.toInt) = v
          else {
            val j = (rng.nextDouble() * (seen + 1)).toLong
            if (j < n) res(j.toInt) = v
          }
          seen += 1
        }
        Iterator.single((seen, res.take(math.min(seen, n.toLong).toInt)))
      }(enc)
      .collect()

    // weighted merge: each partition's reservoir represents `count`
    // rows; draw n slots from the combined stream weight-proportionally
    val total = perPartition.map(_._1).sum
    require(total > 0, "empty input")
    val rng = new java.util.Random(seed)
    val out = new scala.collection.mutable.ArrayBuffer[Array[Double]](n)
    val weights = perPartition.map(_._1.toDouble).toArray
    val cursors = Array.fill(perPartition.length)(0)
    val remaining = weights.clone()
    var need = math.min(n.toLong, total).toInt
    while (need > 0) {
      // pick a partition proportional to remaining weight
      val wSum = remaining.sum
      var pick = rng.nextDouble() * wSum
      var p = 0
      while (p < remaining.length - 1 && pick > remaining(p)) {
        pick -= remaining(p); p += 1
      }
      val res = perPartition(p)._2
      if (cursors(p) < res.length) {
        out += res(cursors(p))
        cursors(p) += 1
        remaining(p) = math.max(0.0, remaining(p) - weights(p) / res.length)
        need -= 1
      } else {
        remaining(p) = 0.0
        if (remaining.forall(_ <= 0.0)) need = 0
      }
    }
    out.toArray
  }

  /** Fill a GLOBAL token budget with the highest-priority documents:
    * the maximal prefix of the (priority desc, id asc) order whose
    * cumulative token count stays ≤ `budget` — "the best N billion
    * tokens" selection a fixed-compute training run makes, prefix
    * semantics (once the budget overflows, later smaller docs do NOT
    * back-fill: the cut is a deterministic rank, not a bin-pack).
    *
    * `counted` carries (idCol, n_tokens, priorityCol); priority should
    * be an exact integer (the fixed-point discipline) so the order is
    * engine-portable. The cumulative sum is a [[PrefixScan]] under the
    * priority order — never a one-partition window.
    *
    * @return the selected rows: (idCol, n_tokens, priorityCol,
    *         tok_start, tok_end), tok_end = cumulative tokens through
    *         this doc
    */
  def tokenBudgetSelect(counted: DataFrame, idCol: String,
                        priorityCol: String, budget: Long): DataFrame = {
    Packing.offsetsOrdered(
      counted, Seq(col(priorityCol).desc, col(idCol).asc))
      .filter(col("tok_end") <= budget)
  }

  /** Deterministic uniform k-per-group sample: rank each group's rows
    * by a seed-mixed portable hash (a pure function of the data —
    * re-materializing an epoch, or replaying on another engine,
    * yields the identical sample) and keep rank <= k. One per-group
    * window exchange; per-group state is the rank counter. The
    * deterministic replacement for per-group reservoir sampling: same
    * guarantee (exactly min(k, n) uniform rows), plus replayability.
    *
    * RANKING by a hash needs real avalanche, which the rolling fold
    * alone does not have: it is AFFINE in the trailing characters, so
    * consecutive ids hash to consecutive values and any suffix- or
    * prefix-embedded seed shifts the whole group by one constant —
    * same order, same sample, every seed (a trap this module hit;
    * mod-extraction consumers like [[weightedSample]] are immune
    * because they compare VALUES, not ranks). The mix here is the
    * seed-prefixed fold pushed through two rounds of the Pollard-rho
    * step x → x²+1 mod p (p = 1e9+7, x² ≤ ~1e18 stays in BIGINT):
    * round one separates consecutive ids by ~2·x₀ ≫ 1, round two
    * multiplies that separation by ~2·x₁ ~ p — full avalanche, and
    * each seed lands on an unrelated permutation.
    *
    * Output: (groupCol, idCol, hash = the mixed key, smp_rank <= k).
    */
  def kPerGroup(df: DataFrame, groupCol: String, idCol: String, k: Int,
                seed: Long): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("hash"), col(idCol))
    df.select(col(groupCol), col(idCol))
      .withColumn("h0", TextAnalysis.rollingHash(
        concat(lit(s"$seed:"), col(idCol).cast("string"))))
      .withColumn("h1", expr("(h0 * h0 + 1) % 1000000007L"))
      .withColumn("hash", expr("(h1 * h1 + 1) % 1000000007L"))
      .drop("h0", "h1")
      .withColumn("smp_rank", row_number().over(w).cast("long"))
      .filter(col("smp_rank") <= k)
  }

  /** Preference-pair construction — reward-model / DPO data prep:
    * within each group the i-th BEST document (by the integer score,
    * id tie-break) is paired with the i-th WORST, for i up to
    * n DIV `denom` (denom 4 = top quarter vs bottom quarter). Best-
    * with-worst ordering maximizes every pair's score margin, and the
    * margin is part of the output — downstream can weight pairs by it
    * or drop low-margin (ambiguous) ones.
    *
    * Scale: one per-group window exchange (the q91 / topFractionByGroup
    * shape) + one join of the two quarter-sized rank slices,
    * co-partitioned on (group, pair_rank); shuffles carry
    * (group, rank, id, score) — never text. For n < denom a group
    * emits no pairs (n DIV denom = 0); chosen and rejected slices are
    * provably disjoint (n DIV denom <= n/2 for denom >= 2).
    *
    * Output: (groupCol, pair_rank, chosen_id, rejected_id, chosen_s,
    * rejected_s, margin_micro >= 0).
    */
  def preferencePairs(df: DataFrame, groupCol: String, scoreMicroCol: String,
                      idCol: String, denom: Int = 4): DataFrame = {
    require(denom >= 2, "denom must be >= 2 (disjoint slices)")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("s").desc, col(idCol))
    val ranked = df
      .select(col(groupCol), col(idCol), col(scoreMicroCol).as("s"))
      .withColumn("r", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col(groupCol))))
    val chosen = ranked.filter(expr(s"r <= n DIV $denom"))
      .select(col(groupCol), col("r").as("pair_rank"),
        col(idCol).as("chosen_id"), col("s").as("chosen_s"))
    val rejected = ranked.filter(expr(s"r > n - (n DIV $denom)"))
      .select(col(groupCol), (col("n") + 1 - col("r")).as("pair_rank"),
        col(idCol).as("rejected_id"), col("s").as("rejected_s"))
    chosen.join(rejected, Seq(groupCol, "pair_rank"))
      .withColumn("margin_micro", col("chosen_s") - col("rejected_s"))
  }

  /** Curriculum phase assignment — order the corpus by a difficulty
    * proxy and split the GLOBAL rank order into `k` contiguous
    * phases: phase = (rank-1)·k DIV n (phase 0 = trained first).
    * Equal-width by rank, so phases differ by at most one row —
    * deterministic, exactly replayable, and (unlike ntile's
    * extras-to-early-buckets rule) a one-line integer identity both
    * engines share.
    *
    * The global rank is a [[PrefixScan]] row rank — never a
    * single-partition `Window.orderBy`, which is the q121/q123
    * discipline for corpus-wide order at scale.
    *
    * Output: every input row + `rank` (1-based) + `phase` (0..k-1).
    */
  def curriculumPhases(df: DataFrame, idCol: String, order: Seq[Column],
                       k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val ranked = PrefixScan(df, order, PrefixScan.RowRank("rank")).rows
    // n = max rank; the agg re-reads the scan's persisted rows, not
    // the corpus
    val tot = ranked.agg(max("rank").as("n_total"))
    ranked.crossJoin(broadcast(tot))
      .withColumn("phase", expr(s"(rank - 1) * $k DIV n_total"))
      .drop("n_total")
  }

  /** Rank-ensemble quality blending (the FineWeb-style "multiple weak
    * classifiers beat one" recipe): each signal column contributes its
    * GLOBAL corpus rank (1 = best, signal descending, id tie-break)
    * and a document's blend is the SUM of its ranks — rank space
    * normalizes away every signal's scale and outlier shape, which is
    * why ensembling raw scores (one hot signal dominates) loses to
    * ensembling ranks. Lower blend = better; gate/select on it with
    * [[tokenBudgetSelect]] or a quantile cut.
    *
    * Everything is exact integers: each per-signal rank is a
    * [[PrefixScan]] row rank (never a global `Window.orderBy`, the
    * single-partition anti-pattern), and
    * the blend is a BIGINT sum. K signals cost K rank passes + K
    * id-keyed joins; shuffles carry (id, signal) pairs only.
    *
    * @return (idCol, rank_<signal>..., blend_rank)
    */
  def rankEnsemble(df: DataFrame, idCol: String,
                   signalCols: Seq[String]): DataFrame = {
    require(signalCols.nonEmpty, "rankEnsemble needs at least one signal")
    val ranked = signalCols.map { s =>
      PrefixScan(df.select(col(idCol), col(s)),
          Seq(col(s).desc, col(idCol).asc), PrefixScan.RowRank(s"rank_$s"))
        .rows.select(col(idCol), col(s"rank_$s"))
    }
    val joined = ranked.reduce(_.join(_, Seq(idCol)))
    joined.withColumn("blend_rank",
      signalCols.map(s => col(s"rank_$s")).reduce(_ + _))
  }

  /** Greedy maximum-coverage source selection (the (1−1/e) greedy of
    * Nemhauser-Wolsey-Fisher for submodular maximization) — "which k
    * data sources should I license/ingest to cover the most
    * vocabulary" and every other pick-sets-to-cover-elements curation
    * call. Per step, pick the set whose elements add the most NEW
    * coverage (ties to the smallest set id), then fold its elements
    * into the covered pool.
    *
    * Scale shape: the kCenterSelect bounded-driver-pass discipline —
    * k steps over a SHRINKING `remaining` pair table (pe minus every
    * element covered so far). Per step the gains pass is a bare
    * map-side-combinable grouped count (no join at all — covered
    * rows were already subtracted), and the subtraction is ONE
    * element-keyed anti join of `remaining` against the just-picked
    * set's elements (bounded by the largest single set — AQE
    * broadcasts it when model-size), localCheckpointed so step j
    * never re-runs steps < j. The earlier shape (full pe anti-joined
    * per step against a GROWING distinct covered pool) paid a
    * pool-sized join plus a pool distinct per step and measured 1.5x
    * this one at sf0.1. Exact integer counts; fully SQL-replayable
    * (the oracle unrolls the k steps).
    *
    * Output: one row per step — (step 1.., picked set, new_elements
    * gained, covered_total after the pick).
    */
  def greedySetCover(pairs: DataFrame, setCol: String, elemCol: String,
                     k: Int): DataFrame = Materialize.scope {
    require(k >= 1, "k must be >= 1")
    val spark = pairs.sparkSession
    import spark.implicits._
    // every step's checkpoint lives until the function returns: at most
    // k shrinking copies of the pair table, and none after return — the
    // picks are collected scalars, so nothing downstream reads them
    var remaining = Materialize.localCheckpoint(
      pairs.select(col(setCol).cast("string").as("s"),
        col(elemCol).cast("string").as("e")).distinct())
    var total = 0L
    val picks = Vector.newBuilder[(Long, String, Long, Long)]
    var step = 1
    var exhausted = false
    while (step <= k && !exhausted) {
      val gains = remaining
        .groupBy("s").agg(count(lit(1)).as("gain"))
        .orderBy(col("gain").desc, col("s")).limit(1)
        .as[(String, Long)].collect()
      gains.headOption match {
        case Some((s, gain)) =>
          total += gain
          picks += ((step.toLong, s, gain, total))
          if (step < k) { // no subtraction needed after the last pick
            val pickedElems = remaining.filter(col("s") === s).select("e")
            remaining = Materialize.localCheckpoint(
              remaining.join(pickedElems, Seq("e"), "left_anti"))
          }
          step += 1
        case None => exhausted = true // everything already covered
      }
    }
    picks.result()
      .toDF("step", "picked", "new_elements", "covered_total")
  }

  /** Class-rebalancing oversampling: every row of label L replicates
    * ceil(n_max / n_L) times (a `copy_idx` column marks the clones) —
    * the deterministic minority-oversampling step of an imbalanced-
    * label training build. Integer replication factors keep the
    * result exactly reproducible (no Bernoulli residue): the balanced
    * class sizes are n_L · ceil(n_max/n_L) ∈ [n_max, 2·n_max). One
    * grouped count broadcast back + one `sequence` explode; rows
    * never shuffle.
    */
  def oversampleBalance(df: DataFrame, labelCol: String): DataFrame = {
    val counts = df.groupBy(labelCol).agg(count(lit(1)).as("__n"))
    val mx = counts.agg(max("__n").as("__mx"))
    val factors = counts.crossJoin(broadcast(mx))
      .select(col(labelCol),
        expr("(__mx + __n - 1) DIV __n").as("__factor"))
    df.join(broadcast(factors), Seq(labelCol))
      .withColumn("copy_idx",
        explode(sequence(lit(0L), col("__factor") - 1)))
      .drop("__factor")
  }

  /** Stratified k-fold assignment: within each label, rows take folds
    * round-robin in portable-hash order — every fold holds n_L/k ± 1
    * rows of each label (the exact stratification property random
    * assignment only approximates), and the assignment is a pure
    * function of (id, seed): reproducible across engines,
    * partitionings and reruns. One rank window per label partition.
    */
  def stratifiedFolds(df: DataFrame, labelCol: String, idCol: String,
                      k: Int, seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2, "need at least 2 folds")
    val keyed = df.withColumn("__h",
      graft.core.Sketches.mix32(TextAnalysis.rollingHash(
        concat(col(idCol).cast("string"), lit(":"), lit(seed.toString)))))
    val w = Window.partitionBy(labelCol).orderBy(col("__h"), col(idCol))
    keyed
      .withColumn("fold",
        ((row_number().over(w) - 1) % k).cast("long"))
      .drop("__h")
  }

  /** Greedy k-center (Gonzalez 1985) coreset selection over an
    * embedding column — the diversity-selection primitive of
    * facility-location data curation: pick the point farthest (max
    * min-squared-distance) from everything chosen so far, k times.
    * The greedy is a 2-approximation of the optimal k-center radius,
    * and the selected set is the classic "cover the embedding space
    * with k exemplars" coreset.
    *
    * Exactness discipline: vectors snap to the micro lattice
    * (floor(v·1e6), the q198/q120 convention) so every squared
    * distance is an exact BIGINT sum — the argmax and its ties
    * (smallest id wins) replay identically in SQL. Seeding is
    * deterministic: the smallest id is center 1 (never an RNG).
    *
    * Scale shape: k bounded driver iterations (the KMeansTrainer
    * contract); each keeps ONE running min-distance column over the
    * corpus (narrow projection against a LITERAL center vector — no
    * join, no shuffle) and takes the argmax via TakeOrdered + a
    * 1-row collect. Total cost O(n·k·dim), the known greedy price;
    * the corpus is never shuffled at all.
    *
    * @return k rows (step 1.., vec id, sel_dist = the point's
    *         min-squared-micro-distance at selection; 0 for step 1).
    */
  def kCenterSelect(emb: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = Materialize.scope {
    require(k >= 1, "k must be >= 1")
    val spark = emb.sparkSession
    import spark.implicits._
    val pts = Materialize.persist(emb.select(col(idCol).as("kc_id"),
        expr(s"transform($vecCol, v -> " +
          "CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT))").as("vm")))
    def dist(center: Array[Long]): org.apache.spark.sql.Column =
      aggregate(
        zip_with(col("vm"), typedLit(center), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x)
    val first = pts.orderBy(col("kc_id")).limit(1)
      .select(col("kc_id"), col("vm")).head()
    var selected = List[(Long, Long, Long)](
      (1L, first.getLong(0), 0L))
    var centerVm = first.getSeq[Long](1).toArray
    var cur = pts
    var step = 1
    while (step < k) {
      cur = cur.withColumn("md",
        if (step == 1) dist(centerVm)
        else least(col("md"), dist(centerVm)))
      val next = cur.orderBy(col("md").desc, col("kc_id").asc).limit(1)
        .select(col("kc_id"), col("md"), col("vm")).head()
      step += 1
      selected ::= ((step.toLong, next.getLong(0), next.getLong(1)))
      centerVm = next.getSeq[Long](2).toArray
    }
    selected.reverse
      .toDF("step", "vec_id", "sel_dist")
      .withColumnRenamed("vec_id", idCol)
  }

  /** The assignment half of [[kCenterSelect]]: every point goes to its
    * nearest selected center (exact micro-lattice squared distance;
    * ties to the EARLIEST center step), and the census reports per
    * center its population, coverage radius (max assigned distance)
    * and total distance — the k-row quality summary of the coreset.
    *
    * Scale shape: the k chosen centers broadcast against one narrow
    * corpus projection; argmin per point is a point-partitioned
    * min_by, never a window over the corpus. Output: (step, center
    * id, n_assigned, max_dist, sum_dist), one row per center (a
    * center with no closer points still reports its own assignment).
    */
  def kCenterAssign(emb: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    val centers = kCenterSelect(emb, idCol, vecCol, k)
      .select(col("step"), col(idCol).as("center_id"))
    val pts = emb.select(col(idCol).as("kc_id"),
      expr(s"transform($vecCol, v -> " +
        "CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT))").as("vm"))
    val cvm = centers.join(
        pts.select(col("kc_id").as("center_id"), col("vm").as("cvm")),
        "center_id")
    val d = pts.crossJoin(broadcast(cvm))
      .withColumn("d2", aggregate(
        zip_with(col("vm"), col("cvm"), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x))
      .groupBy("kc_id")
      .agg(min(struct(col("d2"), col("step"), col("center_id")))
        .as("best"))
    d.groupBy(col("best.step").as("step"),
        col("best.center_id").as("center_id"))
      .agg(count(lit(1)).as("n_assigned"),
        max(col("best.d2")).as("max_dist"),
        sum(col("best.d2")).as("sum_dist"))
  }
}
