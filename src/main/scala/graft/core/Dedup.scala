package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline:
  *
  *  - exact dedup (hash group-by)
  *  - n-gram Jaccard near-dup via an inverted shingle index (NEVER a
  *    cross join: candidate pairs come from a shingle-key equi-join,
  *    which shuffles by shingle and scales linearly in total shingle
  *    instances)
  *  - MinHash + LSH banding (signature = k lexicographic minima of
  *    seeded md5s — portable across engines, unlike murmur3)
  *  - SimHash (bitwise majority of token-hash bits)
  *
  * All plans are shuffle-by-key only; nothing collects to the driver.
  * At 100 TB: exact dedup is one hash aggregate; MinHash/LSH is
  * explode -> two key-partitioned aggregates -> a self-equi-join on
  * band keys whose fan-out is controlled by the band width.
  */
object Dedup {

  /** Word n-gram shingles of a text column (default 3-grams), distinct
    * per document. Native single-pass expression
    * ([[graft.expressions.ShingleArray]]); [[shinglesHof]] is the
    * built-ins-only formulation kept as its semantic oracle.
    */
  def shingles(text: Column, n: Int = 3): Column =
    org.apache.spark.sql.GraftShim.column(
      graft.expressions.ShingleArray(
        org.apache.spark.sql.GraftShim.expression(text), n))

  /** HOF formulation of [[shingles]] — identical semantics, but the
    * lambda re-evaluates the tokenization per window position (kept
    * only as the test oracle for the native expression).
    */
  def shinglesHof(text: Column, n: Int = 3): Column = {
    val toks = TextAnalysis.tokens(text)
    array_distinct(
      transform(
        sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** Exact dedup: group identical texts by sha2, keep the smallest id
    * as canonical. One hash aggregate; at scale the 256-bit key keeps
    * group skew at true-duplicate skew only.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keep_id"))

  /** Drop exact duplicates, keeping the min-id row per distinct text. */
  def dropExactDups(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(sha2(col(textCol), 256)).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Candidate near-dup pairs by n-gram Jaccard similarity.
    *
    * Inverted-index plan: explode distinct shingles, self-join on the
    * shingle (id_a < id_b), count common shingles per pair, then
    * |A∩B| / (|A| + |B| − |A∩B|). The shingle join replaces the O(n²)
    * cross join with a shuffle keyed on shingle text.
    *
    * `maxDf` drops stop-shingles (document frequency above the cap)
    * from candidate generation — at web scale a shingle appearing in
    * millions of docs contributes d^2/2 combos while carrying no
    * near-dup signal. Denominators still count all shingles, so capped
    * Jaccard is a LOWER BOUND of the exact value (pairs only ever
    * drop out, never gain). Default: no cap (exact Jaccard; the
    * driver-gate oracle uses this).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.5,
                        maxDf: Int = Int.MaxValue): DataFrame =
    sharedShingleCounts(df, idCol, textCol, n, maxDf)
      .withColumn("jaccard",
        col("n_common").cast("double")
          / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))

  /** Candidate pairs with their shingle counts: (doc_a, doc_b, n_a,
    * n_b, n_common) for every pair sharing a shingle whose posting
    * list holds at most `maxDf` documents. The candidate block of
    * [[ngramJaccardPairs]] and [[containmentPairs]].
    */
  private def sharedShingleCounts(df: DataFrame, idCol: String, textCol: String,
                                  n: Int, maxDf: Int): DataFrame = {
    // Fanout rationale: see prefixJaccardPairs
    val sh = Fanout.ensure(df).select(col(idCol).as("doc"),
      shingles(col(textCol), n).as("sh"))
      .withColumn("n_sh", size(col("sh")))
    val inv = sh.select(col("doc"), col("n_sh"), explode(col("sh")).as("shingle"))
    // Single-pass inverted index instead of a self-join: group the
    // postings by shingle, emit each posting list's pair combinations
    // with an array expression, then count per pair. One exchange on
    // shingle + one on the pair key — the self-join variant scanned and
    // shingled the corpus twice and shuffled three times. Posting-list
    // skew is bounded: a stop-shingle with document frequency d emits
    // d^2/2 combos, so extreme-DF shingles should be filtered upstream
    // by the caller at web scale (the maxDf hook).
    val byShingle = inv.groupBy("shingle")
      .agg(collect_list(struct(col("doc"), col("n_sh"))).as("ds"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= maxDf)
      .select(array_sort(col("ds")).as("ds"))
    // custom Generator: emits the d(d-1)/2 pairs of each sorted posting
    // list in one pass (the nested-transform + flatten + explode
    // formulation re-evaluated interpreted lambdas per (i,j))
    val combos = byShingle.select(
      org.apache.spark.sql.GraftShim.column(
        graft.expressions.PairCombinations(
          org.apache.spark.sql.GraftShim.expression(col("ds"))))
        .as(Seq("doc_a", "n_a", "doc_b", "n_b")))
    combos
      .groupBy(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_common"))
  }

  /** Prefix-filtered exact Jaccard pairs — the AllPairs/PPJoin
    * candidate scheme (Bayardo et al. WWW'07; Chaudhuri et al.
    * ICDE'06): order every document's shingles by one global total
    * order (document frequency ASCENDING, rarest first, shingle text
    * as tie-break), keep only the first
    * `p = |d| − ceil(t·|d|) + 1` shingles as the doc's PREFIX, and
    * generate candidates ONLY from prefix postings. Any pair with
    * Jaccard ≥ t must share at least one prefix shingle under a common
    * total order, so the filter is LOSSLESS — the output equals
    * [[ngramJaccardPairs]] at the same threshold exactly (the driver
    * gate pins them to the same DuckDB oracle), unlike `maxDf` whose
    * capped scores are lower bounds.
    *
    * Why it scales where the plain inverted index doesn't: a
    * stop-shingle with document frequency d contributes d²/2 combos to
    * the plain index, but almost never sits in any document's rare-
    * first prefix — the candidates concentrate on rare shingles whose
    * posting lists are short by definition. Verification then counts
    * the FULL intersection only for surviving candidate pairs (cost
    * O(|a|+|b|) per pair via the postings join, never all-pairs).
    *
    * Shape: one df aggregation, one per-doc window (rank shingles
    * inside each doc — doc-partitioned, no global window), one
    * prefix-postings pair generation, one postings join to verify.
    *
    * What it does NOT fix: true-duplicate CLIQUES. A text cloned m
    * times yields m²/2 genuinely-similar pairs — the OUTPUT is
    * quadratic in clone count, so no lossless method can be linear on
    * a duplicate-heavy corpus (probe-measured: the q19 family curve on
    * the replicated 10x corpus). Run exact dedup (dropExactDups)
    * upstream, or cap with `maxDf`, when clones dominate.
    *
    * `maxDf` is that linear-scale hook (the [[ngramJaccardPairs]] /
    * q95 discipline applied to the PREFIX postings): prefix posting
    * lists longer than `maxDf` are dropped from candidate generation,
    * so one boilerplate template cloned m times can no longer fan out
    * m²/2 candidates from a single hot shingle. Capped semantics are a
    * RECALL bound, not a score bound — a surviving pair's Jaccard is
    * still verified EXACTLY on the full shingle sets; only pairs whose
    * every shared prefix shingle is hot can be missed. Pairs of
    * ordinary documents (all of whose prefix shingles are rare by
    * construction of the rare-first order) are untouched, so below the
    * cap the capped result equals the lossless one exactly
    * (spec-pinned; the q261 gate pins maxDf=64 to the SAME oracle as
    * the lossless q253 on the driver corpus).
    */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, threshold: Double = 0.5,
                         maxDf: Int = Int.MaxValue): DataFrame = Materialize.scope {
    import org.apache.spark.sql.expressions.Window
    require(threshold > 0.0 && threshold <= 1.0,
      "prefix filtering needs 0 < threshold <= 1")
    // Fanout: shingling runs BEFORE the first exchange — a one-row-
    // group scan serializes it on one core (guide §2.5; no-op at scale)
    // The doc-level shingle SETS persist (one array row per doc): both
    // verification sides read them, and candidate generation explodes
    // them once — the posting-level persist this replaces carried one
    // row per (doc, shingle).
    val sh = Materialize.persist(Fanout.ensure(df).select(col(idCol).as("doc"),
      shingles(col(textCol), n).as("sh"))
      .withColumn("n_sh", size(col("sh"))))
    val inv = sh.select(col("doc"), col("n_sh"),
      explode(col("sh")).as("shingle"))
    // document frequency as a full-frame window count over the shingle
    // partition — same value as the old groupBy("shingle") + join back,
    // minus one exchange and the join (guide §2.4): the window's
    // shingle-keyed exchange replaces the aggregation's, and the rank
    // window below re-keys by doc either way.
    val ranked = inv
      .withColumn("df", count(lit(1)).over(Window.partitionBy("shingle")))
      .withColumn("__pos", row_number().over(
        Window.partitionBy("doc").orderBy(col("df"), col("shingle"))))
    // prefix length p = |d| − ⌈t·|d|⌉ + 1, with the ceil in EXACT
    // integer arithmetic on the micro-scaled threshold: double
    // ceil(0.2 * 10) = ceil(2.0000000000000004) = 3 would shorten the
    // prefix by one and silently LOSE pairs — the one failure mode a
    // lossless filter must not have (micro-floor of t only ever
    // lengthens the prefix: more candidates, never fewer)
    val tMicro = math.floor(threshold * 1e6).toLong
    val prefix = ranked.filter(col("__pos") <=
      col("n_sh") - expr(s"(n_sh * ${tMicro}L + 999999L) DIV 1000000L") + 1)
    val byShingle = prefix.groupBy("shingle")
      .agg(collect_list(struct(col("doc"), col("n_sh"))).as("ds"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= maxDf)
      .select(array_sort(col("ds")).as("ds"))
    val cand = byShingle.select(
      org.apache.spark.sql.GraftShim.column(
        graft.expressions.PairCombinations(
          org.apache.spark.sql.GraftShim.expression(col("ds"))))
        .as(Seq("doc_a", "n_a", "doc_b", "n_b")))
      .distinct() // a pair may share several prefix shingles
    // verify candidates on the FULL shingle sets, row-locally: attach
    // each side's cached shingle ARRAY and count the intersection with
    // array_intersect — shingle sets are distinct per doc, so the
    // distinct-intersection size equals the old postings-join row
    // count exactly. Replaces the doc_a join + (doc_b, shingle)
    // postings join + pair-keyed aggregation (3 exchanges + the
    // per-pair posting fan-out) with two doc-keyed joins and a scalar
    // projection (guide §2.3/§2.4: fewer exchanges, pair-level rows
    // instead of posting-level rows). Assumes candidates × doc size
    // fits the shuffle: every candidate pair carries both docs' FULL
    // shingle arrays through the two joins, so a boilerplate-heavy
    // corpus with long docs pays O(pairs · |d|) bytes here; a
    // fixed-width hashed representation of the sets would bound it.
    val out = cand
      .join(sh.select(col("doc").as("doc_a"), col("sh").as("sh_a")),
        "doc_a")
      .join(sh.select(col("doc").as("doc_b"), col("sh").as("sh_b")),
        "doc_b")
      .withColumn("n_common",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jaccard",
        col("n_common").cast("double")
          / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("jaccard"), 6).as("jaccard"))
    // materialize the (small) pair table so the shingle-set cache can
    // be released before returning (the liftTable lifecycle discipline)
    Materialize.localCheckpoint(out)
  }

  /** Shingle CONTAINMENT pairs — the asymmetric near-dup measure
    * Jaccard misses: |A∩B| / |A| is high when A is quoted or embedded
    * inside a much larger B even though their Jaccard is low (the
    * quote-detection / sub-document-copy case from the dedup
    * literature, e.g. Broder's resemblance-vs-containment split).
    * Same inverted-index + PairCombinations candidate machinery as
    * [[ngramJaccardPairs]] (one exchange on shingle, one on the pair
    * key, `maxDf` = the linear scale path), but the scores are exact
    * integers: n_common·1e6 DIV n_side, both directions, keep pairs
    * whose max direction clears the threshold.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, thresholdMicro: Long = 800000L,
                       maxDf: Int = Int.MaxValue): DataFrame =
    sharedShingleCounts(df, idCol, textCol, n, maxDf)
      .withColumn("contain_a_micro", expr("n_common * 1000000 DIV n_a"))
      .withColumn("contain_b_micro", expr("n_common * 1000000 DIV n_b"))
      .filter(greatest(col("contain_a_micro"), col("contain_b_micro"))
        >= thresholdMicro)
      .select(col("doc_a"), col("doc_b"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
        col("n_common"), col("contain_a_micro"), col("contain_b_micro"))

  /** Affine mixing constants for the k MinHash "permutations"
    * (h_i = (A_i·h + B_i) mod P over an md5-derived base hash). Fixed
    * and engine-portable — an external oracle reproduces them exactly.
    */
  val MinhashP = 1000000007L
  val MinhashA: Seq[Long] = Seq(1299721L, 1299743L, 1299763L, 1299791L,
    1299811L, 1299817L, 1299821L, 1299827L)
  val MinhashB: Seq[Long] = Seq(15485863L, 15485867L, 15485917L, 15485927L,
    15485933L, 15485941L, 15485959L, 15485989L)

  /** Portable base hash of a shingle: the engine's codegen'd
    * polynomial rolling hash (already in [0, P)). Replaced an
    * md5+hex-parse base hash — one cheap single-pass fold instead of a
    * digest per shingle, same portability (any engine with ascii() +
    * a list fold reproduces it).
    */
  def shingleHash(shingle: Column): Column = TextAnalysis.rollingHash(shingle)

  /** MinHash signature (Broder '97): component i = MIN over shingles of
    * (A_i·h + B_i) mod P. Output: doc, mh_0..mh_{k-1}.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 8, n: Int = 3): DataFrame = {
    require(k <= MinhashA.length, s"at most ${MinhashA.length} components")
    val sh = df.select(col(idCol).as("doc"), explode(shingles(col(textCol), n)).as("shingle"))
      .withColumn("h", shingleHash(col("shingle")))
    val mins = (0 until k).map(i =>
      min((col("h") * MinhashA(i) + MinhashB(i)) % MinhashP).as(s"mh_$i"))
    sh.groupBy("doc").agg(mins.head, mins.tail: _*)
  }

  /** The banded MinHash rows LSH operates on, exposed as a TABLE:
    * (doc, sig array<long>, band_idx, band_key). One row per (doc,
    * band); `band_key` = md5 over that band's `rowsPerBand` signature
    * components. This is both the intermediate of [[lshCandidates]]
    * and the persisted format of the incremental band INDEX
    * ([[writeBandIndex]]/[[dedupAgainstIndex]]).
    */
  def bandedSignatures(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 8, rowsPerBand: Int = 2,
                       n: Int = 3): DataFrame = {
    require(k % rowsPerBand == 0, "k must be divisible by rowsPerBand")
    val sigs = minhashSignatures(df, idCol, textCol, k, n)
    val bands = k / rowsPerBand
    val banded = sigs.select(
      col("doc") +:
        (0 until bands).map { b =>
          val cols = (0 until rowsPerBand)
            .map(r => col(s"mh_${b * rowsPerBand + r}").cast("string"))
          md5(concat_ws("|", cols: _*)).as(s"band_$b")
        } :+ array((0 until k).map(i => col(s"mh_$i")): _*).as("sig"): _*)
    banded.select(col("doc"), col("sig"),
      posexplode(array((0 until bands).map(b => col(s"band_$b")): _*))
        .as(Seq("band_idx", "band_key")))
  }

  /** LSH banding over MinHash signatures: rows/band consecutive
    * signature components hashed together; docs sharing any band key
    * become candidate pairs. Estimated Jaccard = fraction of equal
    * signature components. bands * rowsPerBand must equal k.
    *
    * `maxBandSize` is the LSH analog of [[ngramJaccardPairs]]'s
    * `maxDf`: a band bucket shared by d docs fans out d^2/2 candidate
    * pairs, and at web scale boilerplate-heavy docs that survive exact
    * dedup (same template, different payload) can share band keys by
    * the thousands. Buckets above the cap are DROPPED from candidate
    * generation — pairs only ever drop out, never gain, so the capped
    * output is a SUBSET of the exact one (same lower-bound contract as
    * `maxDf`, `Dedup.scala` maxDf doc above). Hot docs usually share
    * several bands, so a pair lost to one oversized bucket commonly
    * survives via another, narrower band. Default: no cap (exact; the
    * q20 driver-gate oracle uses this), and the uncapped plan is
    * byte-identical to before — the bucket-size window only enters
    * the plan when a cap is set.
    */
  def lshCandidates(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 8, rowsPerBand: Int = 2, n: Int = 3,
                    minEstJaccard: Double = 0.0,
                    maxBandSize: Int = Int.MaxValue): DataFrame = {
    val banded = bandedSignatures(df, idCol, textCol, k, rowsPerBand, n)
    val exploded =
      if (maxBandSize == Int.MaxValue) banded
      else {
        // one count per bucket; the window shuffles on exactly the
        // band key the self-join below hashes on. Singleton buckets
        // (the vast majority) are dropped too — they can produce no
        // pair, so this is free pruning of the join's build side.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band_idx"), col("band_key"))
        banded.withColumn("__d", count(lit(1)).over(w))
          .filter(col("__d") > 1 && col("__d") <= maxBandSize)
          .drop("__d")
      }
    val cand = exploded.as("a").join(exploded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
    cand
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
          .cast("double") / k)
      .filter(col("est_jaccard") >= minEstJaccard)
      .select("doc_a", "doc_b", "est_jaccard")
  }

  // ---- incremental dedup against a persisted band index --------------

  /** Create/extend a persisted MinHash band index
    * ([[bandedSignatures]] rows in a transactional
    * [[graft.sources.SnapshotTable]]): the structure that makes dedup
    * INCREMENTAL — a new crawl batch is checked against the
    * accumulated corpus without recomputing or rescanning the corpus
    * text. Pass (`txnAppId`, `txnVersion`) to make the append
    * replay-safe (exactly-once under pipeline retries).
    */
  def writeBandIndex(df: DataFrame, idCol: String, textCol: String,
                     indexDir: String, k: Int = 8, rowsPerBand: Int = 2,
                     n: Int = 3, txnAppId: String = null,
                     txnVersion: Long = -1L): Unit = {
    val rows = bandedSignatures(df, idCol, textCol, k, rowsPerBand, n)
    if (txnAppId == null) graft.sources.SnapshotTable.append(rows, indexDir)
    else graft.sources.SnapshotTable.appendIdempotent(rows, indexDir,
      txnAppId, txnVersion)
  }

  /** Flag each NEW-batch doc against the persisted index: does it
    * near-duplicate anything already in the corpus?
    *
    * Scale shape — the reason this beats re-running [[lshCandidates]]
    * over corpus+batch: the batch's banded rows (batch × bands, ids +
    * 16-byte keys + k longs) are tiny next to the corpus, so they
    * BROADCAST into one scan of the index — the corpus side never
    * shuffles, never recomputes shingles, and grows by one appended
    * commit per batch. (At index sizes where even one scan hurts,
    * bucket the index table by band_key and co-locate the join —
    * md5 keys carry no min/max skip value, so stats pruning cannot
    * help here by construction.)
    *
    * Output: one row per new doc — `is_dup`, best-match `dup_of`
    * (highest estimated Jaccard, ties to the smallest corpus doc id)
    * and `est_jaccard`, both NULL for clean docs.
    *
    * `maxBandSize` caps the INDEX-side bucket size exactly as in
    * [[lshCandidates]] — a hot band key accumulated across the whole
    * corpus otherwise fans out (index docs in bucket) hits per probing
    * doc. The cap is applied AFTER restricting the index to the probed
    * band keys (a broadcast semi-join against the batch's bands), so
    * the bucket-size window runs over the probed subset only — the
    * corpus never shuffles, which is the point of this function.
    * Lower-bound contract: dup flags can only flip dup→clean, never
    * the reverse. Default: no cap, plan unchanged.
    *
    * `batchDocsHint`: pass the batch size when the caller already
    * knows it — the broadcast-vs-shuffle decision otherwise pays one
    * `count()` that re-executes `newDocs`' upstream lineage, roughly
    * doubling the work when the batch is an expensive derived frame.
    */
  def dedupAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                        newDocs: DataFrame, indexDir: String,
                        idCol: String, textCol: String,
                        k: Int = 8, rowsPerBand: Int = 2, n: Int = 3,
                        minEstJaccard: Double = 0.0,
                        broadcastMaxDocs: Long = 2000000L,
                        maxBandSize: Int = Int.MaxValue,
                        batchDocsHint: Option[Long] = None): DataFrame = {
    val newBands = bandedSignatures(newDocs, idCol, textCol, k, rowsPerBand, n)
      .select(col("doc").as("new_doc"), col("sig").as("new_sig"),
        col("band_idx"), col("band_key"))
    val idxAll = graft.sources.SnapshotTable.read(spark, indexDir)
    val idx =
      if (maxBandSize == Int.MaxValue) idxAll
      else {
        val probedKeys = newBands.select("band_idx", "band_key").distinct()
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band_idx"), col("band_key"))
        idxAll.join(broadcast(probedKeys), Seq("band_idx", "band_key"),
            "left_semi")
          .withColumn("__d", count(lit(1)).over(w))
          .filter(col("__d") <= maxBandSize)
          .drop("__d")
      }
    // Broadcasting the batch keeps the corpus-side index scan
    // shuffle-free, but a batch beyond driver/broadcast limits must
    // NOT be forced: above `broadcastMaxDocs` (≈ a few hundred MB of
    // banded rows) fall back to a plain shuffle join on the band key —
    // slower, never fatal. Count on newDocs (one column, parquet-cheap),
    // not on the wider banded rows — or take the caller's hint for free.
    val batchDocs = batchDocsHint.getOrElse(newDocs.select(col(idCol)).count())
    val hits = (if (batchDocs <= broadcastMaxDocs)
        idx.join(broadcast(newBands), Seq("band_idx", "band_key"))
      else
        idx.join(newBands, Seq("band_idx", "band_key")))
      .filter(col("doc") =!= col("new_doc"))
      .select(col("new_doc"), col("doc").as("dup_of"),
        col("new_sig"), col("sig"))
      .distinct() // candidate (new, corpus) pairs — band multiplicity dropped
      .withColumn("est_jaccard",
        size(filter(zip_with(col("new_sig"), col("sig"), (x, y) => x === y), b => b))
          .cast("double") / k)
      .filter(col("est_jaccard") >= minEstJaccard)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("new_doc"))
      .orderBy(desc("est_jaccard"), asc("dup_of"))
    val best = hits.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("new_doc").as(idCol), col("dup_of"),
        round(col("est_jaccard"), 6).as("est_jaccard"))
    newDocs.select(col(idCol))
      .join(best, Seq(idCol), "left")
      .withColumn("is_dup", col("dup_of").isNotNull)
  }

  /** Connected components over near-dup candidate pairs: docs linked
    * by any pair form a duplicate cluster; every doc gets the MIN doc
    * id of its component as `cluster_id`.
    *
    * Distributed path: alternating large-star/small-star contraction
    * ([[connectedComponentsStar]]) — O(log n) rounds regardless of
    * component diameter, so a pathological million-hop chain converges
    * in ~20 rounds where plain min-label propagation (the previous
    * implementation) needed a round per hop. Non-convergence within
    * `maxIter` rounds THROWS rather than returning stale labels.
    */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 30,
                        driverThreshold: Long = 1000000L): DataFrame = {
    // Candidate pairs are COMPACT even for a huge corpus (near-dup
    // rate x docs, post-threshold) — when they fit comfortably on the
    // driver, path-compressed union-find beats a multi-job iterative
    // plan (each distributed round costs ~2 job launches regardless of
    // data size). The distributed loop below remains the path for
    // genuinely large edge sets.
    // One action probes AND fetches: collect up to threshold+1 edges in
    // a single job, then branch on how many came back. (An earlier
    // limit().count() probe followed by a separate collect() executed
    // the full upstream candidate pipeline twice — at q43 scale that
    // doubled the most expensive subplan in the suite.)
    val spark = pairs.sparkSession
    import spark.implicits._
    val edgePairs = pairs.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
    val es = edgePairs.limit((driverThreshold + 1).toInt).as[(Long, Long)].collect()
    if (es.length <= driverThreshold) {
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val labels = parent.keys.map(k => (k, find(k))).toSeq
      return labels.toDF("doc", "cluster_id")
    }
    connectedComponentsStar(edgePairs.toDF("doc_a", "doc_b"), maxIter)
  }

  /** Alternating large-star/small-star connected components (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14):
    *
    *  - large-star: every node points its strictly-LARGER neighbors at
    *    the minimum of its neighborhood (incl. itself);
    *  - small-star: on the larger→smaller directed edges, every node
    *    points its smaller neighbors (and itself) at the minimum.
    *
    * Each round halves tree heights, so the edge set converges to a
    * star forest in O(log n) rounds INDEPENDENT of component diameter
    * (min-label propagation needs a round per hop). Each round is two
    * keyed aggregations + two joins; `localCheckpoint` truncates the
    * iterative lineage, and the first checkpoint materializes the
    * upstream candidate pipeline exactly once. Output: (doc,
    * cluster_id = component min) for every node appearing in `pairs`.
    */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    // canonical directed big→small, self-loops dropped
    var edges = Materialize.localCheckpoint(pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("a"),
        least(col("doc_a"), col("doc_b")).as("b"))
      .filter(col("a") =!= col("b")).distinct())
    // cheap stability probe: (edge count, order-independent hash sum)
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), sum(xxhash64(col("a"), col("b")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var prev = checksum(edges)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // large-star over full neighborhoods (both directions)
      val nbrs = edges.select(col("a").as("u"), col("b").as("v"))
        .unionAll(edges.select(col("b").as("u"), col("a").as("v")))
      val mins = nbrs.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      // v > u >= m, so emitted edges stay canonical big→small
      val large = nbrs.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b")).distinct()
      // small-star on the directed form: Γ⁻(a) = its smaller neighbors
      val minsS = large.groupBy("a").agg(min(col("b")).as("m"))
      val small = Materialize.localCheckpoint(large.join(minsS, "a")
        .filter(col("b") =!= col("m"))
        .select(col("b").as("a"), col("m").as("b"))
        .unionAll(minsS.select(col("a"), col("m").as("b")))
        .distinct())
      val cur = checksum(small)
      edges = small
      converged = cur == prev
      prev = cur
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar: did not converge in $maxIter rounds " +
          "(needs ~log2(n); raise maxIter)")
    // converged edge set is a star forest: (node, root) for every
    // non-root; roots label themselves
    val nodes = pairs.select(col("doc_a").as("doc"))
      .unionAll(pairs.select(col("doc_b").as("doc"))).distinct()
    val labels = edges.groupBy(col("a").as("doc")).agg(min(col("b")).as("lbl"))
    nodes.join(labels, Seq("doc"), "left")
      .select(col("doc"), coalesce(col("lbl"), col("doc")).as("cluster_id"))
  }

  /** Resolve near-dup clusters to survivors: every doc mapped to its
    * cluster's canonical (min-id) doc; docs in no pair survive as
    * themselves.
    */
  def resolveSurvivors(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val clusters = duplicateClusters(pairs)
      .withColumnRenamed("doc", idCol)
    df.join(clusters, Seq(idCol), "left")
      .withColumn("survivor_id", coalesce(col("cluster_id"), col(idCol)))
      .withColumn("is_survivor", col("survivor_id") === col(idCol))
      .drop("cluster_id")
  }

  /** SOFT dedup: keep every document but weight it by 1/cluster_size
    * — the standard alternative to dropping near-duplicates when the
    * duplicated content is legitimate (boilerplate-heavy but distinct
    * pages) and hard removal would bias the mixture. Sampling with
    * `weight_micro` (= 1000000 DIV cluster_size, exact BIGINT — both
    * engines integer-divide) makes each duplicate CLUSTER contribute
    * one expected copy per epoch regardless of its size. Returns one
    * row per input doc: (idCol, cluster_id, cluster_size,
    * weight_micro); singletons get cluster_size 1, weight 1000000.
    * Scale shape: [[resolveSurvivors]]'s labels + one count per
    * cluster + an id-keyed join back — ids and counts only, text
    * never shuffles.
    */
  def clusterWeights(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val resolved = resolveSurvivors(df, idCol, pairs)
      .select(col(idCol), col("survivor_id").as("cluster_id"))
    val sizes = resolved.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    resolved.join(sizes, "cluster_id")
      .select(col(idCol), col("cluster_id"), col("cluster_size"),
        expr("1000000 DIV cluster_size").as("weight_micro"))
  }

  /** [[resolveSurvivors]] with a QUALITY-AWARE survivor policy: the
    * member maximizing `preference` survives each near-dup cluster,
    * instead of the arbitrary min-id member — the production form
    * ("keep the longest / highest-quality copy") of dedup resolution.
    *
    * `preference` is any expression over `df`'s columns whose MAX
    * designates the survivor; wrap multiple criteria in a `struct`
    * (lexicographic compare) and embed a `-id` field to make ties
    * impossible, e.g. `struct(col("n_chars"), -col("doc_id"))` =
    * longest member, lowest id on equal length.
    *
    * Scale shape: same component machinery as [[resolveSurvivors]];
    * the policy adds ONE map-side-combinable aggregation (max of a
    * few-word struct per cluster — never a per-cluster window sort)
    * and one co-keyed join back to members. Shuffles carry
    * (id, cluster, preference), never text.
    */
  def resolveSurvivorsBy(df: DataFrame, idCol: String, pairs: DataFrame,
                         preference: Column): DataFrame = {
    val clusters = duplicateClusters(pairs)
      .withColumnRenamed("doc", idCol)
    val members = df.join(clusters, Seq(idCol), "left")
      .withColumn("__cid", coalesce(col("cluster_id"), col(idCol)))
    // argmax by aggregation: lexicographic struct max carries the id
    // along; `preference` must be total (caller embeds -id) so the
    // trailing `sid` field never decides
    val best = members
      .groupBy("__cid")
      .agg(max(struct(preference.as("p"), col(idCol).as("sid"))).as("b"))
      .select(col("__cid"), col("b.sid").as("survivor_id"))
    members.join(best, Seq("__cid"))
      .withColumn("is_survivor", col("survivor_id") === col(idCol))
      .drop("__cid", "cluster_id")
  }

  /** SimHash (Charikar '02): 32-bit fingerprint where bit i is the
    * majority vote of bit i across all token rolling-hashes. Built
    * entirely from higher-order array expressions — no UDF, no shuffle
    * beyond the final projection's parent plan.
    *
    * Per-doc 32-bit SimHash as explode -> one grouped aggregation.
    *
    * Each token's rolling hash is computed exactly once on its own row
    * (an earlier array-lambda formulation re-evaluated every token
    * hash once per bit — a measured 10x slowdown, because nested
    * higher-order-function lambdas re-evaluate their input per outer
    * iteration and CollapseProject inlines single-use projections).
    * The 32 bit-votes are plain literal-shift aggregates, so the whole
    * thing is two codegen'd stages: scan+explode+hash, then
    * partial/final HashAggregate keyed by doc — shuffle only carries
    * 32 longs per doc.
    */
  def simhashTable(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol),
      explode(TextAnalysis.tokens(col(textCol))).as("__tok"))
      .withColumn("__h", TextAnalysis.rollingHash(col("__tok")))
    val votes = (0 until 32).map { i =>
      sum(when(shiftright(col("__h"), i).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
        .as(s"__v$i")
    }
    val simhash = (0 until 32).map { i =>
      when(col(s"__v$i") > 0, lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)
    tok.groupBy(col(idCol))
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol), simhash.as("simhash"))
  }

  /** Distinct character q-grams of a string (Ed-Join signatures).
    * Native single-pass expression ([[graft.expressions.CharGramArray]]).
    */
  def charGrams(s: Column, q: Int): Column =
    org.apache.spark.sql.GraftShim.column(
      graft.expressions.CharGramArray(
        org.apache.spark.sql.GraftShim.expression(s), q))

  /** Edit-distance near-dup join: all pairs (id_a < id_b) whose
    * strings are within Levenshtein distance `k` — the typo/OCR/near-
    * rewrite dedup measure that token-set Jaccard ([[ngramJaccardPairs]])
    * is blind to (one character flip changes up to q shingles but only
    * costs 1 edit). NEVER a cross join: candidates come from the
    * Ed-Join prefix filter (Xiao, Wang & Lin, VLDB 2008):
    *
    *  - each edit op perturbs at most q char-gram OCCURRENCES, so a
    *    gram present in a but absent from b needs ALL its occurrences
    *    destroyed — within ed ≤ k at most k·q DISTINCT grams of either
    *    side are missing from the other (set semantics);
    *  - order every doc's distinct grams by global rarity (df asc,
    *    gram asc — one total order both sides) and keep the first
    *    k·q + 1 as its signature: by the standard prefix-filter
    *    theorem two strings within ed ≤ k MUST share a signature gram,
    *    so an equi-join on signature grams is a LOSSLESS candidate
    *    generator (the spec pins this against brute force);
    *  - docs with ≤ k·q distinct grams (shorter than ~q + k·q chars,
    *    or degenerately repetitive) make the destruction bound vacuous
    *    — they ALSO pair among themselves through a length-bucket
    *    fallback (bucket width k + 1, each doc posted to its bucket
    *    and the next, so any pair within the |Δlen| ≤ k length filter
    *    shares a bucket). Long×short cross pairs stay covered by the
    *    gram path: a long side (> k·q grams) forces the required
    *    overlap positive and the short side's signature is its whole
    *    gram set.
    *
    * Verification computes `levenshtein(s_a, s_b, k)` — Spark's
    * THRESHOLDED form, the banded O(k·len) DP, not the O(len²) full
    * matrix — only on surviving candidates. Scale shape: one exchange
    * on gram (df join + signature grouping), one on the pair key, the
    * shorts path is bounded by construction on natural text; `maxDf`
    * drops posting lists above the cap (loses losslessness — the
    * documented hot-gram escape hatch, q261 discipline).
    *
    * Output: (id_a, id_b, ed) with ed ≤ k, exact.
    */
  def editNearDupPairs(df: DataFrame, idCol: String, strCol: String,
                       k: Int, q: Int = 3,
                       maxDf: Int = Int.MaxValue): DataFrame = Materialize.scope {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "edit-distance threshold must be >= 1")
    require(q >= 1, "gram size must be >= 1")
    // Fanout rationale: see prefixJaccardPairs
    val base = Materialize.persist(Fanout.ensure(df.select(col(idCol).as("doc"),
        coalesce(col(strCol), lit("")).as("s"))
        .withColumn("slen", length(col("s")))))
    val grams = base.select(col("doc"), col("slen"),
        charGrams(col("s"), q).as("g"))
      .withColumn("n_g", size(col("g")))
    val posted = grams.select(col("doc"), col("slen"),
      explode(col("g")).as("gram"))
    // gram document frequency as a full-frame window count — same
    // value as the old groupBy("gram") + join back, one exchange and
    // one join fewer (guide §2.4; the prefixJaccardPairs r16 shape)
    val ranked = posted
      .withColumn("gdf", count(lit(1)).over(Window.partitionBy("gram")))
      .withColumn("__pos", row_number().over(
        Window.partitionBy("doc").orderBy(col("gdf"), col("gram"))))
    val sigLen = k * q + 1
    val candLong = ranked.filter(col("__pos") <= sigLen)
      .groupBy("gram")
      .agg(collect_list(struct(col("doc"), col("slen"))).as("ds"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= maxDf)
      .select(array_sort(col("ds")).as("ds"))
      .select(org.apache.spark.sql.GraftShim.column(
        graft.expressions.PairCombinations(
          org.apache.spark.sql.GraftShim.expression(col("ds"))))
        .as(Seq("doc_a", "len_a", "doc_b", "len_b")))
      .filter(abs(col("len_a") - col("len_b")) <= k)
      .select(col("doc_a"), col("doc_b"))
    val candShort = grams.filter(col("n_g") <= k * q)
      .select(col("doc"), col("slen"),
        explode(array(expr(s"CAST(slen AS BIGINT) DIV ${k + 1}L"),
          expr(s"CAST(slen AS BIGINT) DIV ${k + 1}L + 1L"))).as("bkt"))
      .groupBy("bkt")
      .agg(collect_list(struct(col("doc"), col("slen"))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(array_sort(col("ds")).as("ds"))
      .select(org.apache.spark.sql.GraftShim.column(
        graft.expressions.PairCombinations(
          org.apache.spark.sql.GraftShim.expression(col("ds"))))
        .as(Seq("doc_a", "len_a", "doc_b", "len_b")))
      .filter(abs(col("len_a") - col("len_b")) <= k)
      .select(col("doc_a"), col("doc_b"))
    val cand = candLong.union(candShort).distinct()
    val out = cand
      .join(base.select(col("doc").as("doc_a"), col("s").as("s_a")), "doc_a")
      .join(base.select(col("doc").as("doc_b"), col("s").as("s_b")), "doc_b")
      .withColumn("ed", levenshtein(col("s_a"), col("s_b"), k))
      .filter(col("ed") >= 0 && col("ed") <= k)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"),
        col("ed").cast("long").as("ed"))
    // the pair table is small; release the corpus persist before returning
    Materialize.localCheckpoint(out)
  }

  // ---- winnowing fingerprints (Schleimer/Wilkerson/Aiken,
  //      SIGMOD'03 — the MOSS local fingerprinting algorithm) -------

  /** Winnowing fingerprint selection per document: hash every token
    * k-gram (portable avalanched rolling hash — the q295 chain, so
    * the whole selection replays in SQL), then from every window of
    * `w` consecutive gram hashes keep the MINIMUM, rightmost on ties
    * — the paper's rule. The selected (pos, hash) set is the doc's
    * fingerprint sketch, ~2/(w+1) of the grams, with the paper's
    * GUARANTEE: any shared token run of length ≥ w+k−1 produces at
    * least one shared fingerprint (a full hash window fits inside
    * the run, and both docs pick the same rightmost-min from it) —
    * detection without indexing every gram, the index-size trade
    * [[lshCandidates]] cannot make (LSH is probabilistic; winnowing
    * is exact above the guarantee length).
    *
    * Plan: one gram explode + ONE per-doc window pass carrying
    * 2(w−1) lag/lead columns, then a LOCAL feasibility test — p is
    * selected iff min(L, p) + min(R, mg−1−p) ≥ w−1, where L counts
    * consecutive predecessors ≥ h (ties keep right) and R counts
    * consecutive successors > h, both capped at w−1 by construction.
    * The test is exactly "some in-bounds window has p as its
    * rightmost min" (a = positions borrowed left, b = w−1−a right;
    * the boundary caps make in-bounds and run-length constraints the
    * same inequality). No self-join, no per-window explode — w·n
    * work becomes n rows with w-wide rows.
    *
    * Scale: per-doc windows (doc-bounded state); `w` is bounded at
    * 16 because the lag/lead fan-out is per-COLUMN (16 is far past
    * the useful winnowing range — MOSS ships w≈4..10).
    *
    * Output: (doc, pos, fp) — gram position and selected hash.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(w >= 2 && w <= 16, "w must be in [2, 16]")
    import org.apache.spark.sql.expressions.Window
    val docs = df.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc"), TextAnalysis.tokens(col(textCol))
        .as("toks"))
      .filter(size(col("toks")) >= k + w - 1) // >= one full hash window
    val grams = docs.select(col("doc"),
        (size(col("toks")) - k + 1).cast("long").as("mg"),
        explode(expr(
          s"""transform(sequence(0L, CAST(size(toks) - $k AS LONG)),
              s -> struct(s AS pos,
                concat_ws(' ', slice(toks, CAST(s + 1 AS INT), $k))
                  AS g))""")).as("sg"))
      .select(col("doc"), col("mg"), col("sg.pos").as("pos"),
        pmod(Sketches.mix32(TextAnalysis.rollingHash(col("sg.g"))),
          lit(1000000000L)).as("h"))
    val byDoc = Window.partitionBy("doc").orderBy("pos")
    val laid = (1 until w).foldLeft(grams) { (d, i) =>
      d.withColumn(s"lg$i", lag(col("h"), i).over(byDoc))
        .withColumn(s"ld$i", lead(col("h"), i).over(byDoc))
    }
    // consecutive run lengths as one nested conditional each:
    // run >= i iff ALL of offsets 1..i pass the comparison
    def run(prefix: String, strict: Boolean): Column = {
      var len: Column = lit(0L)
      var alive: Column = lit(true)
      for (i <- 1 until w) {
        val c = col(s"$prefix$i")
        val pass = if (strict) c > col("h") else c >= col("h")
        alive = alive && c.isNotNull && pass
        len = when(alive, lit(i.toLong)).otherwise(len)
      }
      len
    }
    laid
      .withColumn("lrun", run("lg", strict = false))
      .withColumn("rrun", run("ld", strict = true))
      .filter(least(col("lrun"), col("pos"))
        + least(col("rrun"), col("mg") - 1L - col("pos"))
        >= (w - 1).toLong)
      .select(col("doc"), col("pos"), col("h").as("fp"))
  }

  /** Candidate near-dup pairs from shared winnowing fingerprints —
    * the inverted-index join over [[winnowFingerprints]] output:
    * (doc_a, doc_b, n_shared) for unordered pairs sharing ≥ 1
    * DISTINCT fingerprint hash, with the [[lshCandidates]] hot-key
    * cap (`maxDf`) bounding any boilerplate fingerprint's posting
    * list. Above the guarantee length w+k−1 a true clone pair ALWAYS
    * appears here (subject only to the cap, which is loud-by-
    * convention: cap hits mean boilerplate, the q95 contract).
    */
  def winnowMatchPairs(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 3, w: Int = 4,
                       maxDf: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fps = winnowFingerprints(df, idCol, textCol, k, w)
      .select(col("doc"), col("fp")).distinct()
    val capped0 =
      if (maxDf == Int.MaxValue) fps
      else fps
        .withColumn("__df", count(lit(1)).over(Window.partitionBy("fp")))
        .filter(col("__df") <= maxDf).drop("__df")
    // NOT lazy: the self-join reads the fingerprint table twice, and
    // without a materialized boundary each side re-derives the whole
    // selection pipeline (two corpus scans, two window passes — seen
    // in the q305 plan audit). The checkpoint is fingerprint-sized.
    val capped = Materialize.localCheckpoint(capped0)
    capped.join(capped.select(col("doc").as("doc_b"), col("fp")), "fp")
      .filter(col("doc") < col("doc_b"))
      .select(col("doc").as("doc_a"), col("doc_b"), col("fp"))
      .groupBy("doc_a", "doc_b")
      .agg(countDistinct(col("fp")).as("n_shared"))
  }

  /** Create/extend the persisted winnowing-fingerprint index behind
    * [[winnowMatchPairsIncremental]]: each batch doc's selected
    * (doc, pos, fp) rows appended to a transactional
    * [[graft.sources.SnapshotTable]] — the [[writeBandIndex]]
    * discipline applied to MOSS fingerprints. The append is sound
    * because a doc's fingerprint set is a PURE function of its own
    * text (selection windows never cross documents), so corpus
    * growth only ADDS rows — nothing persisted ever needs rewriting
    * (the property SA ranks lack and gram counts/band keys share).
    * Pass (`txnAppId`, `txnVersion`) for replay-safe appends.
    */
  def writeFingerprintIndex(df: DataFrame, idCol: String,
                            textCol: String, indexDir: String,
                            k: Int = 3, w: Int = 4,
                            txnAppId: String = null,
                            txnVersion: Long = -1L): Unit = {
    val rows = winnowFingerprints(df, idCol, textCol, k, w)
    if (txnAppId == null)
      graft.sources.SnapshotTable.append(rows, indexDir)
    else
      graft.sources.SnapshotTable.appendIdempotent(rows, indexDir,
        txnAppId, txnVersion)
  }

  /** INCREMENTAL winnowing near-dup pairs — a new crawl batch joins
    * the persisted fingerprint index instead of re-fingerprinting the
    * accumulated corpus (the [[dedupAgainstIndex]] shape for MOSS):
    * the batch's fingerprints are appended FIRST (one transactional
    * commit), then the DELTA of match pairs is exactly every
    * unordered pair with ≥ 1 shared distinct fingerprint and AT
    * LEAST ONE SIDE IN THE BATCH. Old–old pairs never change (their
    * fingerprint sets are frozen), so folding each delta over the
    * previous outputs reproduces [[winnowMatchPairs]] of the full
    * corpus exactly (`WinnowingSpec`) — for an uncapped run, or
    * whenever no fingerprint's document frequency crosses `maxDf`
    * mid-stream. With a finite cap the df is measured against the
    * CURRENT index at each emission (the capped-at-delta-time
    * semantics [[dedupAgainstIndex]]'s maxBandSize shares): pairs
    * already emitted through a fingerprint that LATER turns
    * boilerplate keep their rows — re-run the batch path when exact
    * cap semantics over history matter.
    *
    * Per-batch cost: O(batch fingerprints) + one index scan
    * restricted to the batch's fingerprint keys (df via grouped
    * count — the skew-safe [[graft.core.SuffixArray]] dupKeys shape,
    * never a window over a hot fingerprint).
    *
    * Output: (doc_a, doc_b, n_shared), doc_a < doc_b.
    */
  def winnowMatchPairsIncremental(spark: org.apache.spark.sql.SparkSession,
                                  newDocs: DataFrame, indexDir: String,
                                  idCol: String, textCol: String,
                                  k: Int = 3, w: Int = 4,
                                  maxDf: Int = Int.MaxValue,
                                  txnAppId: String = null,
                                  txnVersion: Long = -1L): DataFrame = {
    writeFingerprintIndex(newDocs, idCol, textCol, indexDir, k, w,
      txnAppId, txnVersion)
    val idx = graft.sources.SnapshotTable.read(spark, indexDir)
      .select(col("doc"), col("fp")).distinct()
    val capped =
      if (maxDf == Int.MaxValue) idx
      else {
        val keep = idx.groupBy("fp").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= maxDf).select("fp")
        idx.join(keep, Seq("fp"), "left_semi")
      }
    val newIds = newDocs.select(col(idCol).as("doc")).distinct()
    // batch fps come from the INDEX (already appended) so both join
    // sides share one scan + the cap decision
    val newFps = capped.join(newIds, Seq("doc"), "left_semi")
    val pairs = newFps.select(col("doc").as("dn"), col("fp"))
      .join(capped.select(col("doc").as("do"), col("fp")), "fp")
      .filter(col("dn") =!= col("do"))
    // new–new pairs arrive in both orientations; the canonical
    // (doc_a < doc_b) projection collapses them and countDistinct
    // ignores the duplicate fp rows
    pairs.select(
        when(col("dn") < col("do"), col("dn")).otherwise(col("do"))
          .as("doc_a"),
        when(col("dn") < col("do"), col("do")).otherwise(col("dn"))
          .as("doc_b"),
        col("fp"))
      .groupBy("doc_a", "doc_b")
      .agg(countDistinct(col("fp")).as("n_shared"))
  }
}
