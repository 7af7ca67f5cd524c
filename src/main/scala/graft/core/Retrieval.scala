package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyword retrieval over the corpus — BM25 (Robertson et al., the
  * Okapi weighting), the standard sparse complement to the dense
  * ANN stack in [[Similarity]]. In a training-data pipeline this is
  * the mining/inspection tool: "which training documents match this
  * eval item's vocabulary" (decontamination triage, quality-classifier
  * seed mining, targeted corpus audits).
  *
  * Scale shape (the asymmetric-corpus discipline of
  * [[Decontaminate]]): the query side is small by contract, so query
  * terms reach the postings by broadcast; corpus postings/lengths are
  * one explode + two grouped aggregations, pruned to MATCHED terms
  * before any scoring work; N/avgdl are a one-row aggregate
  * cross-joined in-plan (never a driver collect). Shuffled rows carry
  * (query, doc, BIGINT) — never text. The per-query rank window
  * partitions by query id, so top-k never funnels the corpus through
  * one task.
  *
  * Determinism: per-(query,doc,term) scores are floored to 1e-6
  * fixed-point BIGINT and summed exactly — the [[LanguageModel]]
  * discipline — so aggregation order cannot move a result across
  * engines; `ln` ulp is the only cross-engine surface (the accepted
  * q68/q88 class). k1 = 1.2 and b = 0.75 enter as the exact decimal
  * doubles 2.2 / 0.3 / 0.9 in a fixed parenthesization shared with
  * the oracle:
  *
  *   idf  = ln(1 + (N − df + 0.5) / (df + 0.5))
  *   frac = tf·2.2 / (tf + 0.3 + 0.9·(dl·N)/T)
  *   score(q,d) = Σ_terms floor(1e6 · idf · frac)
  */
object Retrieval {

  /** Top-`k` corpus docs per query doc by BM25 over whitespace tokens.
    *
    * @param corpus    (idCol, textCol) training-side documents
    * @param queryDocs (idCol, textCol) query documents (small side —
    *                  term set is broadcast); query terms are the
    *                  DISTINCT tokens of each query doc
    * @return (query_id, rank, doc_id, bm25_micro) — rank 1..k by
    *         (score desc, doc_id), BIGINT fixed-point score
    */
  def bm25TopK(corpus: DataFrame, queryDocs: DataFrame,
               idCol: String = "doc_id", textCol: String = "text",
               k: Int = 10): DataFrame = {
    val live = corpus.filter(length(trim(col(textCol))) > 0)
    // corpus-wide stats are a pure projection — no explode, no shuffle
    // beyond the one-row stats aggregate
    val stats = live
      .select(size(TextAnalysis.tokens(col(textCol))).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("total_len"))
    val qterms = queryDocs
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("query_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .distinct()
    // prune the exploded corpus to query-matched terms BEFORE any
    // aggregation: the tf/df counts only ever aggregate matched
    // occurrences (df over matched tf rows equals the true document
    // frequency of those terms), so non-matching corpus tokens die
    // inside the scan stage against the broadcast term set.
    // dl rides the SAME explode projection (size of the row's own
    // token array) and stays in the tf group key — doc_id determines
    // dl, so the grouped relation is identical to the previous
    // separate dl projection joined back on doc_id, minus that
    // corpus-keyed join and one full tokenize pass (guide §2.4).
    val matchedTok = live
      .select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), size(col("__toks")).cast("long").as("dl"),
        explode(col("__toks")).as("term"))
      .join(broadcast(qterms.select(col("term")).distinct()), Seq("term"),
        "leftsemi")
    val withLen = matchedTok.groupBy("doc_id", "term", "dl")
      .agg(count(lit(1)).as("tf"))
    scoreAndRank(withLen, qterms, stats, k)
  }

  /** Shared scoring tail: df over the (already query-pruned) postings,
    * the fixed-parenthesization BM25 term score, fixed-point sum, and
    * the per-query rank window. `postings` columns: doc_id, term, tf,
    * dl; `stats` is the one-row (n_docs, total_len).
    */
  private def scoreAndRank(postings: DataFrame, qterms: DataFrame,
                           stats: DataFrame, k: Int): DataFrame = {
    val df = postings.groupBy("term").agg(count(lit(1)).as("df"))
    // df is BROADCAST by hint, not left to size estimates: both callers
    // prune postings to query-matched terms first, so df has at most
    // one row per distinct query term — the same "query side is small
    // by contract" bound that already broadcasts qterms. At sf0.1 the
    // planner picks BHJ on its own (plan unchanged, verified); at
    // production scale a post-aggregation size ESTIMATE can exceed the
    // auto-broadcast threshold and silently flip this to a sort-merge
    // join that exchanges the full postings table on term — the hint
    // pins the contract (guide §3.1: estimates are often badly wrong
    // after filters; hint when you know a side is small).
    val matched = postings
      .join(broadcast(qterms), Seq("term"))
      .join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(stats))
    val idf = log(lit(1.0) +
      ((col("n_docs") - col("df")).cast("double") + lit(0.5))
        / (col("df").cast("double") + lit(0.5)))
    val frac = col("tf").cast("double") * lit(2.2) /
      (col("tf").cast("double") + lit(0.3) +
        lit(0.9) * (col("dl").cast("double") * col("n_docs"))
          / col("total_len"))
    val termScore = floor(lit(1000000.0) * (idf * frac)).cast("long")
    val scores = matched
      .select(col("query_id"), col("doc_id"), termScore.as("sm"))
      .groupBy("query_id", "doc_id")
      .agg(sum("sm").as("bm25_micro"))
    scores
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("bm25_micro").desc, col("doc_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("bm25_micro"))
  }

  // ---- the postings AS a persisted incremental index ----------------

  /** Sentinel bucket for per-doc length rows (term = NULL, tf = 0):
    * corpus stats live in the SAME transactional table as the
    * postings, so one commit covers both and a stats read is one
    * manifest-pruned scan of the sentinel range.
    */
  val LenBucket = -1L

  /** Index rows for `docs`: postings (bucket = portable term hash in
    * [0, buckets), term, doc_id, tf, dl) plus one length row per doc
    * under [[LenBucket]], range-clustered on (bucket, term) so every
    * file carries tight bucket stats and a probe read prunes at the
    * manifest — the [[Similarity.writeIvfIndexTable]] layout applied
    * to sparse retrieval.
    *
    * @param clusterPartitions explicit range-partition count for the
    *   clustered write (None = session/AQE-sized). Tiny corpora
    *   coalesce to one file per commit under AQE, which leaves nothing
    *   for the manifest to prune — tests and small backfills set this.
    */
  private def indexRows(docs: DataFrame, idCol: String, textCol: String,
                        buckets: Int,
                        clusterPartitions: Option[Int]): DataFrame = {
    val live = docs.filter(length(trim(col(textCol))) > 0)
    // dl rides the explode projection and the tf group key (doc_id
    // determines dl) — same relation as the previous tf ⋈ dl join on
    // doc_id, minus that corpus-keyed join and one tokenize pass
    // (the bm25TopK r16 shape)
    val tf = live
      .select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), size(col("__toks")).cast("long").as("dl"),
        explode(col("__toks")).as("term"))
      .groupBy("doc_id", "term", "dl").agg(count(lit(1)).as("tf"))
    // the per-doc length rows derive from the SAME tf relation instead
    // of a second full tokenize pass: unlike bm25TopK's query-pruned
    // postings, these are unpruned, and every live doc has >= 1 token
    // under whitespace tokenization (empty text never survives the
    // live filter), so distinct (doc_id, dl) over tf is exactly one
    // row per live doc with the identical dl (guide §2.4 — don't
    // recompute what an existing relation already carries; the tf
    // aggregation's exchange is shared via ReusedExchange).
    val dl = tf.select(col("doc_id"), col("dl")).distinct()
    val postings = tf.select(
      pmod(xxhash64(col("term")), lit(buckets.toLong)).as("bucket"),
      col("term"), col("doc_id"), col("tf"), col("dl"))
    val lens = dl.select(lit(LenBucket).as("bucket"),
      lit(null).cast("string").as("term"), col("doc_id"),
      lit(0L).as("tf"), col("dl"))
    val rows = postings.unionByName(lens)
    clusterPartitions.fold(
        rows.repartitionByRange(col("bucket"), col("term")))(
        n => rows.repartitionByRange(n, col("bucket"), col("term")))
      .sortWithinPartitions("bucket", "term")
  }

  /** (Re)build the postings index as a snapshot table. */
  def writePostingsIndex(docs: DataFrame, table: String,
                         idCol: String = "doc_id", textCol: String = "text",
                         buckets: Int = 64,
                         clusterPartitions: Option[Int] = None): Int =
    graft.sources.SnapshotTable.overwrite(
      indexRows(docs, idCol, textCol, buckets, clusterPartitions), table)

  /** INCREMENTAL maintenance: newly arrived docs (new doc_ids by
    * contract, the [[Similarity.appendToIvfIndex]] regime) append
    * their postings + length rows as ONE transactional commit —
    * O(new docs), the index is never rewritten, df/stats stay correct
    * because they are computed at query time from the table. With
    * `writer` the append is idempotent (Delta txnAppId contract) for
    * exactly-once foreachBatch ingest.
    */
  def appendToPostingsIndex(newDocs: DataFrame, table: String,
                            idCol: String = "doc_id",
                            textCol: String = "text", buckets: Int = 64,
                            clusterPartitions: Option[Int] = None,
                            writer: Option[(String, Long)] = None): Option[Int] = {
    val rows = indexRows(newDocs, idCol, textCol, buckets, clusterPartitions)
    graft.sources.SnapshotTable.appendAs(rows, table, writer)
  }

  /** BM25 top-k served FROM the index: query terms hash to their
    * buckets (driver holds the distinct bucket set — bounded by the
    * query batch), the postings come from ONE manifest-pruned
    * envelope read with the exact `isin` + term semi-join as residual
    * filters (the q100 union-duplication lesson), and the corpus
    * stats from one sentinel-range read. Results equal [[bm25TopK]]
    * over the indexed corpus regardless of how many commits built the
    * index.
    */
  def bm25TopKIndexedTable(spark: org.apache.spark.sql.SparkSession,
                           queryDocs: DataFrame, table: String,
                           idCol: String = "doc_id",
                           textCol: String = "text", k: Int = 10,
                           buckets: Int = 64): DataFrame = {
    import graft.sources.SnapshotTable
    val qterms = queryDocs
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("query_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .distinct()
    val probed = qterms
      .select(pmod(xxhash64(col("term")), lit(buckets.toLong)).as("bucket"))
      .distinct().collect().map(_.getLong(0)).sorted
    if (probed.isEmpty) {
      import org.apache.spark.sql.types._
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("query_id", LongType),
          StructField("rank", LongType), StructField("doc_id", LongType),
          StructField("bm25_micro", LongType))))
    }
    val postings = SnapshotTable.read(spark, table,
        prune = Seq(SnapshotTable.ColRange("bucket",
          lower = Some(probed.head), upper = Some(probed.last))))
      .filter(col("bucket").isin(probed.map(Long.box): _*))
      .join(broadcast(qterms.select(col("term")).distinct()), Seq("term"),
        "leftsemi")
      .select(col("doc_id"), col("term"), col("tf"), col("dl"))
    val stats = SnapshotTable.read(spark, table,
        prune = Seq(SnapshotTable.ColRange("bucket",
          lower = Some(LenBucket), upper = Some(LenBucket))))
      .filter(col("bucket") === LenBucket)
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("total_len"))
    scoreAndRank(postings, qterms, stats, k)
  }

  // ---- hybrid retrieval: reciprocal-rank fusion ---------------------

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR '09)
    * of per-query rankings — the standard sparse⊕dense hybrid
    * combiner: each input list contributes 1/(c + rank) per
    * (query, doc), and docs surfaced by several retrievers sum their
    * contributions.
    *
    * Determinism discipline: the contribution is the INTEGER
    * 1e9 DIV (c + rank) — 1/61 has no exact double, so the float path
    * would hang cross-engine equality on summation luck; the integer
    * form makes the fused score an order-free BIGINT sum (the
    * [[LanguageModel]] fixed-point discipline applied to fusion).
    *
    * Scale shape: every input is k-bounded per query by construction,
    * so fusion touches O(queries × k × lists) rows no matter how big
    * the corpus is — all the heavy lifting stays in the audited
    * BM25 / ANN paths that produced the lists, which at index scale
    * are the snapshot-table-served variants, drop-in.
    *
    * @param rankings (query_id, rank, doc_id)-shaped lists (extra
    *                 columns ignored; rank 1-based)
    * @return (query_id, rank, doc_id, rrf_nano) — rank 1..k by
    *         (rrf_nano desc, doc_id)
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int = 10, c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val contribs = rankings.map(_.select(col("query_id"), col("doc_id"),
      expr(s"CAST(1000000000 AS BIGINT) DIV ($c + CAST(rank AS BIGINT))")
        .as("contrib")))
    val fused = contribs.reduce(_ unionByName _)
      .groupBy("query_id", "doc_id").agg(sum("contrib").as("rrf_nano"))
    fused.withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rrf_nano").desc, col("doc_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf_nano"))
  }

  // ---- graded ranking quality: nDCG@k -------------------------------

  /** nDCG@k over a retrieved ranking against GRADED relevance — the
    * eval MRR (q234) can't express: MRR sees one gold doc, nDCG
    * credits partially-relevant results and penalizes burying the
    * best ones (Järvelin & Kekäläinen, TOIS '02).
    *
    *   DCG@k  = Σ_{i≤k} (2^rel_i − 1) / ln(i + 1)
    *   IDCG@k = the same sum over the IDEAL ordering of the query's
    *            whole relevance pool (not just what was retrieved)
    *   nDCG   = DCG / IDCG
    *
    * Fixed-point discipline: each position contributes the BIGINT
    * round(gain·1e6 / ln(rank+1)) — one IEEE-correct ln + divide +
    * round per ROW (replayable), summed order-free; the final ratio is
    * one integer DIV. Natural log instead of log2: nDCG is a ratio, so
    * the base cancels, and ln replays across engines (the BM25 idf
    * precedent). Queries with an empty relevance pool get NULL.
    *
    * Scale shape: `ranked` is k-bounded per query by construction;
    * the ideal side ranks the relevance pool with a PER-QUERY window
    * (partitioned, never global) and keeps k rows. Joins are on
    * (query_id, doc_id) — no corpus-sized work beyond what produced
    * the inputs.
    *
    * @param ranked (query_id, rank, doc_id) — 1-based, from bm25TopK /
    *               rrfFuse / an ANN ranking (extra columns ignored)
    * @param rel    (query_id, doc_id, rel) — integer grades ≥ 0; docs
    *               absent from `rel` count as grade 0
    * @return one row per query: (query_id, dcg_micro, idcg_micro,
    *         ndcg_micro)
    */
  def ndcgAtK(ranked: DataFrame, rel: DataFrame, k: Int = 10): DataFrame = {
    require(k >= 1, "k must be >= 1")
    def contrib(rankCol: Column, relCol: Column): Column =
      round((pow(lit(2.0), relCol.cast("double")) - lit(1.0)) * lit(1000000.0)
        / log(rankCol.cast("double") + lit(1.0))).cast("long")
    val got = ranked.filter(col("rank") <= k)
      .join(rel.select(col("query_id"), col("doc_id"), col("rel")),
        Seq("query_id", "doc_id"), "left")
      .select(col("query_id"),
        contrib(col("rank"), coalesce(col("rel"), lit(0L))).as("c"))
      .groupBy("query_id")
      .agg(sum("c").as("dcg_micro"))
    val ideal = rel.filter(col("rel") > 0)
      .withColumn("irank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rel").desc, col("doc_id"))).cast("long"))
      .filter(col("irank") <= k)
      .select(col("query_id"), contrib(col("irank"), col("rel")).as("c"))
      .groupBy("query_id")
      .agg(sum("c").as("idcg_micro"))
    got.join(ideal, Seq("query_id"), "left")
      .select(col("query_id"), col("dcg_micro"),
        coalesce(col("idcg_micro"), lit(0L)).as("idcg_micro"),
        expr("""CASE WHEN idcg_micro > 0
                THEN dcg_micro * 1000000 DIV idcg_micro END""")
          .as("ndcg_micro"))
  }

  /** MAP@k (mean-average-precision family) over a retrieved ranking
    * against BINARY relevance — the third member of the eval panel
    * beside MRR (one gold doc, q234) and nDCG (graded, q250): average
    * precision integrates precision at every recall point, so it
    * rewards putting ALL relevant docs early, not just the first.
    *
    *   AP@k = (1 / min(R, k)) · Σ_{hits i≤k} P@rank_i,
    *   P@r  = hits-at-or-before-r / r,  R = |relevance pool|
    *
    * Fixed-point discipline: each hit contributes the exact integer
    * hits·1e6 DIV rank (pure integer division — no float anywhere),
    * summed order-free; the AP normalization is one more integer DIV.
    * Precision/recall@k come from the same exact counters. Queries
    * with an empty relevance pool get NULL ap (undefined, not zero).
    *
    * Scale shape: `ranked` is k-bounded per query by construction; the
    * hit-counter window is per-query over ≤k rows (partitioned, never
    * global); R comes from one grouped count of the relevance pool.
    *
    * @param ranked (query_id, rank, doc_id) — 1-based (extra columns
    *               ignored)
    * @param rel    (query_id, doc_id) — the binary relevance pool
    *               (extra columns ignored; duplicates collapse)
    * @return one row per query: (query_id, n_rel, n_hits_k,
    *         p_at_k_micro, recall_at_k_micro, ap_micro)
    */
  def mapAtK(ranked: DataFrame, rel: DataFrame, k: Int = 10): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val pool = rel.select(col("query_id"), col("doc_id")).distinct()
    val poolSize = pool.groupBy("query_id").agg(count(lit(1)).as("n_rel"))
    val hits = ranked.filter(col("rank") <= k)
      .join(pool.withColumn("hit", lit(1L)),
        Seq("query_id", "doc_id"), "left")
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        coalesce(col("hit"), lit(0L)).as("hit"))
    val wq = Window.partitionBy("query_id").orderBy("rank")
      .rowsBetween(Window.unboundedPreceding, 0) // ≤k rows per query
    val perQuery = hits
      .withColumn("hits_upto", sum("hit").over(wq))
      .groupBy("query_id")
      .agg(
        sum("hit").as("n_hits_k"),
        // Σ over hit positions of P@rank in exact micro
        sum(expr("CASE WHEN hit = 1 THEN hits_upto * 1000000 DIV rank " +
          "ELSE 0L END")).as("ap_num_micro"))
    perQuery.join(poolSize, Seq("query_id"), "left")
      .na.fill(0L, Seq("n_rel"))
      .select(col("query_id"), col("n_rel"), col("n_hits_k"),
        expr(s"n_hits_k * 1000000 DIV $k").as("p_at_k_micro"),
        expr("CASE WHEN n_rel > 0 THEN n_hits_k * 1000000 DIV n_rel END")
          .as("recall_at_k_micro"),
        expr(s"""CASE WHEN n_rel > 0
                 THEN ap_num_micro DIV least(n_rel, CAST($k AS BIGINT))
                 END""").as("ap_micro"))
  }

  /** Sparse TF-IDF cosine pairs over the inverted term index — the
    * WEIGHTED companion to [[graft.core.Dedup.ngramJaccardPairs]]:
    * boilerplate-heavy near-dups share rare vocabulary with high idf
    * mass, which set-Jaccard underweights. Classic sparse-vector
    * similarity join (term-partitioned partial products — the
    * Elsayed/Lin/Oard MapReduce pairwise-similarity shape):
    *
    *   w(d,t)   = tf(d,t) · idf_micro(t),  idf = ln((N+1)/(df+1)) + 1
    *   cos(a,b) = Σ_t w(a,t)·w(b,t) / (‖w(a)‖·‖w(b)‖)
    *
    * Determinism discipline: idf is MILLI-rounded ONCE per term (milli
    * not micro: w² products must survive production magnitudes), so
    * weights are exact BIGINTs; per-pair dots and per-doc norms²
    * accumulate in DECIMAL(38,0) (w² ~ 8e16 at web-scale tf·idf —
    * BIGINT would wrap silently, the anovaF class); the cosine is
    * sqrt/division over those exact integers — exactly-rounded IEEE
    * ops on identical inputs, so even the threshold compare is
    * bit-identical cross-engine.
    *
    * Scale shape: candidate generation is the inverted-index
    * [[graft.expressions.PairCombinations]] walk (one exchange on
    * term, one on the pair key); `maxDf` is the linear-scale hook —
    * posting lists above it are dropped from pair generation (capped
    * cosine = a lower bound: norms stay FULL-vocabulary), the q95
    * discipline. A stop-word's d²/2 pair fan-out never happens.
    */
  def tfidfCosinePairs(docs: DataFrame, idCol: String, textCol: String,
                       threshold: Double,
                       maxDf: Int = Int.MaxValue): DataFrame = {
    val tf = docs.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy("doc", "term").agg(count(lit(1)).as("tf"))
    val nDocs = docs.agg(count(lit(1)).as("nd"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val weighted = tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("w", expr(
        """tf * CAST(round((ln((CAST(nd AS DOUBLE) + 1.0)
          |  / (CAST(df AS DOUBLE) + 1.0)) + 1.0) * 1000.0) AS BIGINT)"""
          .stripMargin))
    val norms = weighted.groupBy("doc")
      .agg(sum(expr("CAST(w AS DECIMAL(38,0)) * w")).as("nrm2"))
    val byTerm = weighted.filter(col("df") <= maxDf)
      .groupBy("term")
      .agg(collect_list(struct(col("doc"), col("w"))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(array_sort(col("ds")).as("ds"))
    val dots = byTerm.select(
        org.apache.spark.sql.GraftShim.column(
          graft.expressions.PairCombinations(
            org.apache.spark.sql.GraftShim.expression(col("ds"))))
          .as(Seq("doc_a", "w_a", "doc_b", "w_b")))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(expr("CAST(w_a AS DECIMAL(38,0)) * w_b")).as("dot2"))
    dots
      .join(norms.select(col("doc").as("doc_a"), col("nrm2").as("na2")),
        Seq("doc_a"))
      .join(norms.select(col("doc").as("doc_b"), col("nrm2").as("nb2")),
        Seq("doc_b"))
      .withColumn("cos", expr(
        "CAST(dot2 AS DOUBLE) / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE)))"))
      .filter(col("cos") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("cos"), 6).as("cosine"))
  }
}
