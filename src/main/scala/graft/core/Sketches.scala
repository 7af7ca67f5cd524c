package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.{BloomFilter, CountMinSketch}

/** Sketch-based approximate aggregation — the single-pass, bounded-
  * memory summaries a 100 TB profile pass uses where exact answers
  * would shuffle the world. Complements the HLL++ distinct counts
  * already in [[TimeSeries.dailyRollupApprox]]:
  *
  *  - Count-Min (frequencies / heavy hitters): fixed eps×delta grid,
  *    merged tree-wise across partitions by Spark; estimates only ever
  *    OVERcount, so `support`-thresholded heavy hitters have no false
  *    negatives.
  *  - Bloom filter (membership): build once on the small/key side,
  *    broadcast into a pre-shuffle filter on the huge side — the
  *    manual form of the runtime bloom-filter join pruning pinned in
  *    `RuntimeFilterSpec`, for when the filter is reused across MANY
  *    queries (e.g. a static denylist) rather than derived per join.
  *  - Approximate quantiles: Greenwald-Khanna with a relative-error
  *    knob, one pass, no sort.
  *
  * All three return driver-side sketch objects a few KB–MB in size —
  * bounded by the sketch parameters, never by the data.
  */
object Sketches {

  /** Count-Min sketch of a string column's value frequencies. */
  def countMin(df: DataFrame, column: String,
               eps: Double = 0.001, confidence: Double = 0.99,
               seed: Int = 42): CountMinSketch =
    df.stat.countMinSketch(col(column), eps, confidence, seed)

  /** Heavy hitters by Count-Min: values from a (cheap, pre-aggregated)
    * candidate pass whose ESTIMATED count clears `minCount`. The
    * candidate set must cover the true heavy hitters (CMS alone cannot
    * enumerate); CMS overestimation means no true heavy hitter is
    * dropped.
    */
  def heavyHitters(df: DataFrame, column: String, minCount: Long,
                   sketch: CountMinSketch): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val candidates = df.select(col(column).cast("string")).distinct()
      .as[String].collect() // caller bounds cardinality (post-distinct)
    candidates.map(v => (v, sketch.estimateCount(v)))
      .filter(_._2 >= minCount)
      .toSeq.toDF(column, "est_count")
  }

  /** Bloom filter over a key column. `expectedItems` sets the bit
    * budget; `fpp` the false-positive rate.
    */
  def bloom(df: DataFrame, column: String,
            expectedItems: Long, fpp: Double = 0.01): BloomFilter =
    df.stat.bloomFilter(col(column), expectedItems, fpp)

  /** The `numHashes` double-hashed bit positions of a string key in a
    * `numBits`-bit RELATIONAL bloom filter: pos_i = (h1 + i·h2) mod m
    * with h1/h2 from the portable rollingHash→mix32 chain (two
    * independent seeds via a suffix salt; h2 forced odd). The same
    * chain every SQL oracle replays — unlike [[bloom]]'s
    * driver-held Spark BloomFilter (xxhash-based, opaque to the
    * oracle) and the manifest blooms in SnapshotTable, this filter is
    * an ordinary DataFrame, so it builds DISTRIBUTED (map-side
    * combinable bit_or), broadcasts explicitly, and its every bit
    * replays bit-for-bit in DuckDB.
    */
  private def bloomPositions(key: Column, numBits: Int,
                             numHashes: Int): Column = {
    val h1 = mix32(TextAnalysis.rollingHash(key))
    val h2 = mix32(TextAnalysis.rollingHash(concat(key, lit("#b2")))) *
      lit(2L) + lit(1L)
    transform(sequence(lit(0), lit(numHashes - 1)),
      i => pmod(h1 + i.cast("long") * h2, lit(numBits.toLong)))
  }

  /** Build the relational bloom filter over (distinct) `key` values:
    * one row per 62-bit word — (word_idx, bits). 62 bits per word
    * keeps every shift strictly below the BIGINT sign bit in both
    * engines. The build is one explode + one map-side-combinable
    * bit_or aggregate; the result is model-size (≤ numBits/62 rows)
    * by construction.
    */
  def bloomBuild(keys: DataFrame, key: Column, numBits: Int = 1 << 20,
                 numHashes: Int = 4): DataFrame = {
    require(numBits >= 62, "numBits must be >= 62")
    require(numHashes >= 1 && numHashes <= 16,
      "numHashes must be in [1, 16]")
    keys.select(explode(bloomPositions(key, numBits, numHashes))
        .as("pos"))
      .select(expr("pos DIV 62").as("word_idx"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 62) AS INT))")
          .as("m"))
      .groupBy("word_idx").agg(expr("bit_or(m)").as("bits"))
  }

  /** Membership probe against a [[bloomBuild]] filter: (bloom_key,
    * bloom_hit) for each DISTINCT key — hit iff ALL `numHashes` bits
    * are set (absent words count as unset). The filter side is
    * broadcast (model-size by construction); the key side explodes to
    * numHashes narrow rows and aggregates back — no data-sized
    * shuffle beyond the key distinct. NO FALSE NEGATIVES: every key
    * that was built in always hits, so an exact verification join on
    * the survivors reproduces exact semantics (`BloomSpec`).
    */
  def bloomTest(keys: DataFrame, key: Column, bloom: DataFrame,
                numBits: Int = 1 << 20, numHashes: Int = 4): DataFrame =
    keys.select(key.as("bloom_key")).distinct()
      .select(col("bloom_key"),
        explode(bloomPositions(col("bloom_key"), numBits, numHashes))
          .as("pos"))
      .select(col("bloom_key"), expr("pos DIV 62").as("word_idx"),
        expr("CAST(pmod(pos, 62) AS INT)").as("b"))
      .join(broadcast(bloom), Seq("word_idx"), "left")
      .withColumn("hit", coalesce(
        col("bits").bitwiseAND(
          expr("shiftleft(CAST(1 AS BIGINT), b)")) =!= 0L,
        lit(false)))
      .groupBy("bloom_key")
      .agg((sum(when(col("hit"), lit(1L)).otherwise(lit(0L)))
        === lit(numHashes.toLong)).as("bloom_hit"))

  /** Collect a [[bloomBuild]] filter into a dense driver-side word
    * array (index = word_idx) — model-size by construction
    * (numBits/62 longs; 2²⁰ bits ≈ 17K longs ≈ 135 KB), the same
    * bound that lets [[bloomTest]] broadcast it. Feeds
    * [[bloomTestLit]], which inlines the membership probe as a
    * literal-array EXPRESSION so a corpus-sized key stream never
    * shuffles or re-aggregates just to be tested.
    */
  def bloomWords(bloom: DataFrame, numBits: Int): Array[Long] = {
    val words = new Array[Long](numBits / 62 + 1)
    bloom.select(col("word_idx").cast("int"), col("bits").cast("long"))
      .collect().foreach(r => words(r.getInt(0)) = r.getLong(1))
    words
  }

  /** Membership probe as a PURE scalar expression over a literal word
    * array from [[bloomWords]] — bit-identical to [[bloomTest]] (the
    * same [[bloomPositions]] double-hash chain; absent words read as
    * 0 = unset on both paths) but with no explode, no join and no
    * re-aggregation: the probed stream dies at a codegen'd bit test
    * inside its own projection. This is the 100 TB probe shape —
    * [[bloomTest]]'s relational probe re-keys the stream per hash
    * and aggregates it back; this costs `numHashes` literal-array
    * reads per row and keeps the stream's partitioning untouched.
    * Still SQL-replayable: the oracle inlines the same word list.
    */
  def bloomTestLit(key: Column, words: Array[Long], numBits: Int,
                   numHashes: Int): Column = {
    require(numBits >= 62, "numBits must be >= 62")
    require(numHashes >= 1 && numHashes <= 16,
      "numHashes must be in [1, 16]")
    val arr = typedLit(words.toSeq)
    // NO higher-order function anywhere: HOF lambdas run interpreted
    // with no common-subexpression elimination, and [[mix32]]'s
    // xorshift tree references its input 8 times — through a
    // transform/forall over [[bloomPositions]] that multiplied into
    // ~64 rolling-hash evaluations per row (measured 5 s on 226K
    // rows at the q315 gate). As PLAIN conjuncts in one projection,
    // whole-stage codegen's subexpression elimination shares the two
    // hash subtrees across all numHashes probes: 2 hashes per row,
    // total. Positions < numBits ≤ 2³⁰, so the double division is
    // exact and floor = integer DIV.
    val h1 = mix32(TextAnalysis.rollingHash(key))
    val h2 = mix32(TextAnalysis.rollingHash(concat(key, lit("#b2")))) *
      lit(2L) + lit(1L)
    (0 until numHashes).map { i =>
      val p = pmod(h1 + lit(i.toLong) * h2, lit(numBits.toLong))
      element_at(arr, floor(p / lit(62.0)).cast("int") + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L),
          pmod(p, lit(62L)).cast("int"))) =!= lit(0L)
    }.reduce(_ && _)
  }

  /** Filter `df` to rows whose `column` might be in the filter —
    * broadcast-applied before any shuffle; false positives only, so
    * follow with an exact join when exactness matters. Dispatches on
    * the column's type the same way `bloomFilter` hashed it at build
    * time (long for integral keys, string otherwise) — a silent
    * cast-to-long of a string key would null-drop every row.
    */
  def mightContain(df: DataFrame, column: String, bf: BloomFilter): DataFrame = {
    val bcast = df.sparkSession.sparkContext.broadcast(bf)
    import org.apache.spark.sql.types._
    df.schema(column).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        val mc = udf((v: Long) => bcast.value.mightContainLong(v))
        df.filter(mc(col(column).cast("long")))
      case StringType =>
        val mc = udf((v: String) => v != null && bcast.value.mightContainString(v))
        df.filter(mc(col(column)))
      case other => throw new IllegalArgumentException(
        s"bloom membership supports integral and string keys, got ${other.catalogString}")
    }
  }

  /** One-pass approximate quantiles (Greenwald-Khanna). */
  def approxQuantiles(df: DataFrame, column: String,
                      probabilities: Array[Double],
                      relativeError: Double = 0.01): Array[Double] =
    df.stat.approxQuantile(column, probabilities, relativeError)

  // --- deterministic, SQL-replayable HyperLogLog register sketch ---
  //
  // Unlike approx_count_distinct (whose HLL++ registers live only
  // inside one aggregation), these registers are a first-class TABLE:
  // |groups| x m rows that can be PERSISTED as a daily pre-aggregate
  // and re-merged (max per bucket) over any group/date range later —
  // the datasketches rollup pattern. At 100 TB the daily job reduces
  // each partition to m=128 integers per group with full map-side
  // combine, and every ad-hoc range distinct-count reads only the
  // (manifest-pruned) register files, never the raw events again.
  // Every step is integer arithmetic on the portable rolling hash, so
  // an external SQL engine replays the registers AND the estimate
  // bit-for-bit (the estimate's one float fold is dyadic: sum of
  // 2^-rho terms is exact in a double at any accumulation order).

  /** Number of HLL buckets (2^7). Register width is 23 bits. */
  final val HllM = 128

  /** 32-bit avalanche of the portable rolling hash (two xorshift-
    * multiply rounds, degski's 0x45d9f3b). The raw 31-polynomial is
    * replayable but low-dispersion on shared-prefix keys; HLL needs
    * uniform bits. Stays in [0, 2^32): products fit a signed 64-bit
    * long (2^32 * 0x45d9f3b < 2^63), all operands non-negative, so
    * the same expression replays under ANSI and in any SQL engine
    * with xor + integer div/mod.
    */
  private[core] def mix32(h0: Column): Column =
    org.apache.spark.sql.GraftShim.column(graft.expressions.Mix32(
      org.apache.spark.sql.GraftShim.expression(h0)))

  /** Test hooks: the expression pair is private[core] by design;
    * the parity spec lives in package graft. */
  private[graft] def mix32TestHook(h: Column): Column = mix32(h)
  private[graft] def mix32ComposedTestHook(h: Column): Column =
    mix32Composed(h)

  /** The Column-composed formulation of [[mix32]] — kept as the
    * semantic test oracle for the native expression (the composed
    * tree references its input 8×, which FilterExec's conjunct
    * splitting turns into repeated hash evaluation — the q315
    * lesson; see [[graft.expressions.Mix32]]).
    */
  private[core] def mix32Composed(h0: Column): Column = {
    val M = lit(4294967296L)
    def xm(h: Column): Column =
      (h.bitwiseXOR(shiftright(h, 16)) * lit(73244475L)) % M
    val h2 = xm(xm(h0))
    h2.bitwiseXOR(shiftright(h2, 16))
  }

  /** KMV (k-minimum-values / theta) sketch of `key` per group: the k
    * smallest DISTINCT avalanched hashes. The set-operation member of
    * the sketch family — HLL ([[hllRegisters]]) merges by union only;
    * a KMV sketch additionally estimates INTERSECTIONS (source
    * overlap, contamination between corpus snapshots) because below
    * θ = min(θ_a, θ_b) each sketch holds EVERY distinct hash of its
    * set: common-below-θ counts are exact on the sample.
    *
    * Deterministic and SQL-replayable end to end: the portable
    * rolling hash + the q206 avalanche, bottom-k by one rank window
    * over the distinct-hash table. Mergeable: union of sketches →
    * distinct → bottom-k again is the union sketch.
    *
    * Scale shape: one distinct + one rank exchange carrying (group,
    * 8-byte hash) rows only — payloads never shuffle; k rows per
    * group survive. For repeated incremental builds, pre-filter new
    * keys against the persisted sketch's θ before the distinct (the
    * band-index pattern) so the exchange carries only sub-θ hashes.
    */
  def kmvSketch(df: DataFrame, key: Column, groupCols: Seq[String],
                k: Int): DataFrame = {
    require(k >= 2, "kmv needs k >= 2")
    import org.apache.spark.sql.expressions.Window
    val h = mix32(TextAnalysis.rollingHash(key))
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col("hv"))
    df.select(groupCols.map(col) :+ h.as("hv"): _*)
      .distinct()
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Merge KMV sketches (e.g. daily partials read back from a
    * snapshot table): distinct hashes, re-bottom-k per group. The k
    * smallest distinct hashes of a union are contained in the union
    * of each part's k smallest, so merge-of-parts == direct sketch of
    * the whole — the mergeability contract the gate pins.
    */
  def kmvMerge(sketches: DataFrame, groupCols: Seq[String], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col("hv"))
    sketches.select(groupCols.map(col) :+ col("hv"): _*)
      .distinct()
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Pairwise set-overlap estimates from a KMV sketch table: for each
    * unordered group pair (a < b),
    *   θ        = min(θ_a, θ_b)   (θ_g = the k-th smallest, i.e. the
    *                              sketch max; a group with fewer than
    *                              k distinct keys is EXACT)
    *   est_n    = (k−1)·M DIV θ   per group  (M = 2^32)
    *   est_int  = c·M DIV θ       where c = |common hashes < θ| —
    *                              exact on the sub-θ sample
    *   est_un   = (k−1)·M DIV θ_u over the k smallest of the merged
    *                              distinct hashes
    * all BIGINT floor divisions — bit-replayable in any SQL engine.
    * Exact-side groups (n < k) estimate as their true count. The pair
    * table is groups², model-size; everything here runs on sketches.
    */
  def kmvPairOverlap(sketch: DataFrame, groupCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val M = 4294967296L
    // a group with fewer than k distinct keys retains EVERYTHING: its
    // θ is M (the datasketches "exact mode"), which makes every
    // formula below collapse to the exact count with no special cases
    val stats = sketch.groupBy(groupCol)
      .agg(max("hv").as("mx"), count(lit(1)).as("n_sk"))
      .select(col(groupCol),
        when(col("n_sk") < k, lit(M)).otherwise(col("mx")).as("theta"),
        col("n_sk"),
        when(col("n_sk") < k, col("n_sk"))
          .otherwise(expr(s"(${k - 1} * ${M}L) DIV mx")).as("est_n"))
    val a = sketch.select(col(groupCol).as("g_a"), col("hv"))
    val b = sketch.select(col(groupCol).as("g_b"), col("hv"))
    // union sketch per pair: merged distinct hashes, k smallest
    val wu = Window.partitionBy("g_a", "g_b").orderBy("hv")
    val unionStats = a.as("x").join(b.as("y"), col("g_a") < col("g_b"))
      .select(col("g_a"), col("g_b"), col("x.hv").as("hv"))
      .union(a.as("x").join(b.as("y"), col("g_a") < col("g_b"))
        .select(col("g_a"), col("g_b"), col("y.hv").as("hv")))
      .distinct()
      .withColumn("__rn", row_number().over(wu))
      .filter(col("__rn") <= k)
      .groupBy("g_a", "g_b")
      .agg(max("hv").as("mx_u"), count(lit(1)).as("n_u"))
    val sa = stats.select(col(groupCol).as("g_a"), col("theta").as("th_a"),
      col("est_n").as("est_a"))
    val sb = stats.select(col(groupCol).as("g_b"), col("theta").as("th_b"),
      col("est_n").as("est_b"))
    // common hashes strictly below the pair θ — exact on the sample
    val common = a.join(b, Seq("hv")).filter(col("g_a") < col("g_b"))
      .join(broadcast(sa.drop("est_a")), Seq("g_a"))
      .join(broadcast(sb.drop("est_b")), Seq("g_b"))
      .filter(col("hv") < least(col("th_a"), col("th_b")))
      .groupBy("g_a", "g_b").agg(count(lit(1)).as("n_common"))
    sa.join(sb, col("g_a") < col("g_b"))
      .join(unionStats, Seq("g_a", "g_b"), "left")
      .join(common, Seq("g_a", "g_b"), "left")
      .select(col("g_a"), col("g_b"), col("est_a"), col("est_b"),
        when(col("n_u") < k, col("n_u"))
          .otherwise(expr(s"(${k - 1} * ${M}L) DIV mx_u")).as("union_est"),
        expr(s"coalesce(n_common, 0L) * ${M}L DIV least(th_a, th_b)")
          .as("intersect_est"))
  }

  /** HLL registers of `key` per group: one row per (group, bucket)
    * with the max leading-zero rank `rho`. bucket = low 7 hash bits;
    * rho = 24 - bitlength(next 23 bits) (24 when they are all zero).
    * Output is mergeable by `max(rho)` — union of key sets ==
    * elementwise register max.
    */
  def hllRegisters(df: DataFrame, key: Column,
                   groupCols: Seq[String]): DataFrame = {
    val h = mix32(TextAnalysis.rollingHash(key))
    val w = shiftright(h, 7) % lit(8388608L)
    df.select(groupCols.map(col) :+ (h % HllM).as("bucket") :+
        when(w > 0, lit(24) - length(bin(w))).otherwise(24).as("rho"): _*)
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(max(col("rho")).as("rho"))
  }

  /** Distinct-count estimate from (merged) registers, one row per
    * group: raw HLL `alpha_m * m^2 / Z` with the standard
    * linear-counting switch below 2.5m when empty buckets remain.
    * Columns: group cols, `active_buckets`, `hll_estimate`.
    */
  def hllEstimate(registers: DataFrame, groupCols: Seq[String]): DataFrame = {
    val m = HllM
    val merged = registers
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(max(col("rho")).as("rho"))
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / m)
    merged.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("active_buckets"),
        (sum(lit(1.0) / expr("cast(shiftleft(1L, cast(rho as int)) as double)")) +
          (lit(m) - count(lit(1)))).as("z"),
        (lit(m) - count(lit(1))).as("v"))
      .withColumn("raw", alpha * lit(m * m) / col("z"))
      .withColumn("hll_estimate",
        when(col("raw") <= lit(m) * 2.5 && col("v") > 0,
          lit(m) * log(lit(m.toDouble) / col("v"))).otherwise(col("raw")))
      .drop("z", "v", "raw")
  }

  /** AMS / tug-of-war F2 sketch (Alon, Matias & Szegedy, STOC'96) —
    * the second frequency moment Σ f_k², the quantity behind self-join
    * size estimation and skew detection. Each of `rows`·`cols`
    * estimators keeps ONE signed counter S = Σ_k sign(k)·f_k with
    * E[S²] = F2; means across `cols` cut variance, the median across
    * `rows` (odd) cuts tail probability — the textbook
    * median-of-means.
    *
    * Signs come from the portable avalanched hash of (key, i, j, seed)
    * — a pure function of the key, so the "random" signs are
    * engine-reproducible and the oracle replays the whole sketch
    * (formal 4-wise independence is the paper's analysis device; the
    * avalanche mix is the standard practical stand-in). All integer:
    * BIGINT counters, squares, one floor DIV per mean, exact rank-
    * (rows+1)/2 median over the `rows`-row mean table.
    *
    * The gate computes the EXACT F2 beside the estimate plus the
    * micro relative error, so the driver pins the estimator algebra
    * bit-for-bit (the estimate is deterministic given the seed), not
    * a tolerance band.
    *
    * Scale shape: one grouped count to the key-frequency table, one
    * broadcast (rows·cols)-spine cross producing sign terms that
    * map-side-combine straight down to rows·cols cells — the sketch
    * multiplier never shuffles raw rows. The mean/median tables are
    * sketch-sized.
    *
    * Output: one row (n_keys, f2_exact, f2_est, err_micro).
    */
  def amsF2(df: DataFrame, key: Column, rows: Int = 5, cols: Int = 16,
            seed: Long = 42L): DataFrame = Materialize.scope {
    import org.apache.spark.sql.expressions.Window
    require(rows >= 1 && rows % 2 == 1, "rows must be odd (exact median)")
    require(cols >= 1, "cols must be >= 1")
    val spark = df.sparkSession
    val freq = Materialize.persist(df.select(key.cast("string").as("k"))
      .groupBy("k").agg(count(lit(1)).as("fk")))
    val spine = spark.range(rows.toLong * cols)
      .select(expr(s"id DIV $cols").as("i"),
        pmod(col("id"), lit(cols.toLong)).as("j"))
    val cells = freq.crossJoin(broadcast(spine))
      .withColumn("sgn",
        pmod(mix32(TextAnalysis.rollingHash(concat(col("k"), lit(":"),
          col("i").cast("string"), lit(":"), col("j").cast("string"),
          lit(":"), lit(seed.toString)))),
          lit(2L)) * 2L - 1L)
      .groupBy("i", "j").agg(sum(col("sgn") * col("fk")).as("s"))
    val means = cells.select(col("i"), (col("s") * col("s")).as("x"))
      .groupBy("i").agg(expr(s"sum(x) DIV $cols").as("m"))
    val est = means
      .withColumn("rn", row_number().over(Window.orderBy("m")))
      .filter(col("rn") === (rows + 1) / 2)
      .select(col("m").as("f2_est"))
    val exact = freq.agg(count(lit(1)).as("n_keys"),
      sum(expr("fk * fk")).as("f2_exact"))
    Materialize.localCheckpoint(exact.crossJoin(est)
      .select(col("n_keys"), col("f2_exact"), col("f2_est"),
        expr("abs(f2_est - f2_exact) * 1000000L DIV f2_exact")
          .as("err_micro")))
  }
}
