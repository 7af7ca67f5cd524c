package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed generalized suffix array over per-document token
  * sequences — the unbounded-length exact-substring shape of Lee et
  * al. 2022 ("Deduplicating Training Data Makes Language Models
  * Better": their ExactSubstr dedup builds a suffix array so repeats
  * of ANY length surface, where fixed n-token windows
  * ([[TextAnalysis.dupSpans]]) bound what they can report by the
  * window width). Re-expressed Spark-first as Manber–Myers prefix
  * doubling: no suffix STRING is ever materialized — every stage
  * carries (doc, pos, rank) triples only.
  *
  * Construction: rank suffixes by their first 2^j tokens, j = 0, 1,
  * 2, … Each doubling pairs rank_j\[pos\] with rank_j\[pos + 2^j\],
  * fetched by a PER-DOCUMENT `lead(r, 2^j)` window (suffix positions
  * are dense 0..len−1 by construction, so the lead IS the shifted
  * lookup — no self-join, no extra exchange once the table is
  * doc-partitioned), with a typed all-zero sentinel past the doc end
  * (strictly below every real rank, so a suffix that is a proper
  * prefix of another sorts first — DuckDB's list-comparison order,
  * which is what makes the oracle replayable). Re-ranking is
  * STRUCTURAL (r16): level j+1's rank is struct(r_j, r_j@+2^j) and
  * struct comparison IS the pair order — order-isomorphic to the
  * suffix prefix order at every width with no value overflow, so the
  * densify/arithmetic machinery of earlier rounds (distinct + range
  * re-rank + join-back per overflow, measured 2–3.3 s per round at
  * sf0.1) is gone. All rounds share one (sa_doc, pos) window spec, so
  * the whole doubling chain plans as ONE exchange + sort with
  * log2(max doc tokens) pipelined Window operators. Price: rank rows
  * widen one struct layer per round (the classic prefix-doubling
  * space — every level was retained anyway for the LCP descent), and
  * the loop always runs the full Manber–Myers ceil(log2(max doc
  * tokens)) rounds (a bounded driver loop, the [[Bpe]] contract; the
  * old dense-round early stop is dropped with the dense rounds).
  *
  * Candidate discipline (the 100 TB argument): repeats are read off
  * SA-ADJACENT pairs only — never all-pairs — and adjacency is
  * resolved WITHIN rank buckets at the widest level ≤ minLen: a pair
  * with LCP ≥ minLen shares its first minLen tokens, so both suffixes
  * sit in the same bucket and their global neighbor is their bucket
  * neighbor (anything lexicographically between them shares the
  * prefix too). One partitioned window per bucket — the global
  * total-order pass the naive SA needs never happens.
  *
  * Cost honestly stated: log(max doc len) rounds, each one window
  * over the position table (one fused stage for short-doc corpora;
  * long-doc corpora checkpoint per level for the LCP descent) — the
  * known price of distributed SA construction. At 100 TB the
  * long-doc per-level localCheckpoints become snapshot-table
  * checkpoints; the shapes are unchanged.
  */
object SuffixArray {

  /** The top-`topK` LONGEST exactly-repeated token substrings in the
    * corpus (length ≥ `minLen` tokens, length UNBOUNDED above —
    * whole-document clones surface at full length). A "repeat" here
    * is the full longest-common-prefix of a suffix-array-adjacent
    * pair — the canonical set: every substring that occurs ≥ 2 times
    * is a prefix of one of these, and the set depends only on the
    * corpus content, never on tie order, so any correct suffix sort
    * (DuckDB's brute-force `ORDER BY suffix_list` included) produces
    * the same table.
    *
    * Occurrence counts for the ≤ topK winners re-match against the
    * position table through a broadcast first-token probe + exact
    * slice equality — K-bounded work, one corpus pass.
    *
    * NOT lazy: the rank levels and candidate pairs materialize at call
    * time. Level lineage is LINEAR under the struct re-rank (each level
    * reads its parent once through one shared-spec window), so
    * short-doc corpora keep the whole doubling chain lazy in one
    * fused stage; long-doc corpora (LCP-descent path) checkpoint
    * every level — the descent joins each level, and re-deriving the
    * nested windows per join would be quadratic (the Bpe/Dedup
    * lineage discipline).
    *
    * @return (repeat_len, n_docs, n_occurrences, repeat_text), longest
    *         first, text ascending as the tie-break.
    */
  def longestRepeats(df: DataFrame, idCol: String, textCol: String,
                     minLen: Int = 8, topK: Int = 20,
                     directLcpMaxDocLen: Int = 4096): DataFrame = {
    require(minLen >= 1, "minLen must be >= 1")
    require(topK >= 1, "topK must be >= 1")
    val docs = Materialize.persist(df
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("sa_doc"),
        TextAnalysis.tokens(col(textCol)).as("toks")))
    val lens = docs.select(col("sa_doc"),
      size(col("toks")).cast("long").as("slen"))

    val counts = lens.agg(
      coalesce(sum("slen"), lit(0L)).as("n"),
      coalesce(max("slen"), lit(0L)).as("mx")).head()
    val (nTotal, maxDocLen) = (counts.getLong(0), counts.getLong(1))
    if (nTotal == 0L) {
      return docs.sparkSession.emptyDataFrame
        .withColumn("repeat_len", lit(0L))
        .withColumn("n_docs", lit(0L))
        .withColumn("n_occurrences", lit(0L))
        .withColumn("repeat_text", lit(""))
        .limit(0)
    }

    // Regime split on maxDocLen (the directLcpMaxDocLen contract, the
    // same knob the LCP step below keys on). SHORT-DOC corpora — the
    // usual training-data shape — need NO rank chain at all (r17): the
    // candidate discipline only requires buckets that are a prefix of
    // every >= minLen LCP, and the EXACT first-minLen-token gram (the
    // [[gramRows]] shape exactSubstrDedup already uses) is the finest
    // such bucket. Within a bucket every member shares those minLen
    // tokens, so ordering by the REMAINDER token slice (+ the same
    // (sa_doc, pos) tie) IS the suffix order the ranks encoded —
    // array comparison is prefix-shorter-first, exactly the sentinel
    // semantics (and no suffix shorter than minLen can sort BETWEEN
    // two members of a shared-minLen-prefix bucket: a proper prefix
    // sorts before both, so dropping the sub-minLen tails the gram
    // explode never emits loses no adjacent pair with LCP >= minLen).
    // Singleton buckets can never yield a candidate pair, so a grouped
    // count (map-side combinable — the [[dupKeys]] skew rationale)
    // drops them BEFORE the only payload-bearing exchange: suffix
    // slices ship ONLY for positions in multi-member buckets (12% of
    // positions at sf0.1). vs the r16 rank chain this deletes the
    // vocab rank action, the eager base-rank checkpoint, the fused
    // log(len)-round window stage, and the adjacency exchange of
    // maxDocLen-leaf struct ranks (the dominant q274 stage, 2.7 s at
    // sf0.1). LONG-DOC corpora keep the prefix-doubling levels the
    // O(log len) LCP descent requires — there the per-pair remainder
    // compare would be O(len), not the exchange width, is the hazard.
    val structOnly = maxDocLen <= directLcpMaxDocLen.toLong
    var levels: List[(Long, DataFrame)] = Nil
    val (cand, buckets) = if (structOnly) {
      val bucketRows = Materialize.persist(gramRows(docs, minLen)
        .withColumnRenamed("g", "rb"))
      val multi = bucketRows.join(
        bucketRows.groupBy("rb").agg(count(lit(1)).as("c"))
          .filter(col("c") >= 2L).select("rb"),
        Seq("rb"), "left_semi")
      val withRest = multi.join(docs, Seq("sa_doc"))
        .select(col("sa_doc"), col("pos"), col("rb"),
          expr(s"slice(toks, CAST(pos + $minLen + 1 AS INT), " +
            s"size(toks) - CAST(pos AS INT) - $minLen)").as("rest"))
      val candShort = Materialize.localCheckpoint(withRest
        .withColumn("nxt",
          lead(struct(col("sa_doc"), col("pos")), 1).over(
            Window.partitionBy("rb")
              .orderBy(col("rest"), col("sa_doc"), col("pos"))))
        .filter(col("nxt").isNotNull)
        .select(col("sa_doc").as("da"), col("pos").as("pa"),
          col("nxt.sa_doc").as("db"), col("nxt.pos").as("pb")))
      (candShort, bucketRows)
    } else {
      val toks = docs.select(col("sa_doc"),
        posexplode(col("toks")).as(Seq("pos", "tok")))
        .select(col("sa_doc"), col("pos").cast("long").as("pos"),
          col("tok"))
      // base level: rank by the first token (vocab-sized distinct). A
      // model-size vocabulary broadcasts its rank table so the corpus
      // side never exchanges; a corpus-scale vocabulary (possible at
      // 100 TB with noisy text) falls back to the shuffled join
      val vocab = toks.select(col("tok")).distinct()
      val r0 = Materialize.scope {
        val vr = PrefixScan(vocab, Seq(col("tok")), PrefixScan.RowRank("r")).rows
        val nVocab = vr.count()
        Materialize.localCheckpoint(toks.join(
            if (nVocab <= 1000000L) broadcast(vr) else vr, "tok")
          .select(col("sa_doc"), col("pos"), col("r")))
      }

    // prefix doubling; levels accumulate newest-first (largest width
    // at the head). Rank composition is STRUCTURAL (r16 rewrite):
    // level j+1's rank is struct(r, lead(r, w)) with a typed all-zero
    // sentinel past the doc end — struct comparison IS the pair order
    // the old arithmetic composite (r1·(m+1) + r2) encoded, with no
    // overflow bookkeeping and no per-round max action. Struct rounds
    // all share ONE window spec (sa_doc, pos), so Catalyst pipelines
    // consecutive rounds in one stage with no extra exchange. Because
    // each struct layer DOUBLES the rank's leaf count, every
    // `leafCap`-leaf level is compressed back to a dense BIGINT rank
    // by a [[PrefixScan]] dense rank — range partitioning colocates
    // equal keys, so one exchange + a per-partition dense_rank + a
    // broadcast of per-partition group counts IS the global dense
    // rank, and the sum of those counts is the round's group total
    // (the old dense round's distinct + two-phase rank + count
    // action + join-back, measured 2–3.3 s each at sf0.1, is gone;
    // the direct form measures ~0.6 s). Dense rounds also carry the
    // convergence test: equal group counts across consecutive dense
    // rounds mean no pair separated in between, and induction on the
    // pair decomposition shows no later width separates it either —
    // equal final ranks are EXACTLY equal suffixes. Long-doc corpora
    // (the LCP-descent path) checkpoint each struct level exactly as
    // before: the descent joins every level, and re-deriving nested
    // windows per join would be quadratic. The bucket rank for
    // adjacency (widest power of 2 <= minLen) is TAGGED onto the
    // level that computes it and carried forward — no level-vs-level
    // join later
    val j0wTarget = { var w = 1L; while (w * 2 <= minLen) w *= 2; w }
    val byDoc = Window.partitionBy("sa_doc").orderBy("pos")
    levels =
      List((1L, if (j0wTarget == 1L) r0.withColumn("rb", col("r")) else r0))
    var width = 1L
    // typed zero sentinel of the CURRENT level's rank type (strictly
    // below every real rank: vocab ranks start at 1)
    var zero: Column = lit(0L)
    var leaves = 1
    val leafCap = 8 // compress when a round would exceed 8 rank leaves
    var lastDenseRanks = -1L
    var converged = false
    while (!converged && width < maxDocLen) {
      val cur0 = levels.head._2
      val extra = if (cur0.columns.contains("rb")) Seq("rb") else Nil
      val cur =
        if (leaves < leafCap) cur0
        else {
          val (compressed, nGroups) = Materialize.scope {
            val scan = PrefixScan(cur0, Seq(col("r")), PrefixScan.DenseRank("_dr"))
            (Materialize.localCheckpoint(scan.rows.select(
                Seq(col("sa_doc"), col("pos")) ++ extra.map(col) :+
                  col("_dr").as("r"): _*)),
              scan.totals.agg(sum("_dr")).head().getLong(0))
          }
          if (nGroups == nTotal || nGroups == lastDenseRanks)
            converged = true
          lastDenseRanks = nGroups
          zero = lit(0L)
          leaves = 1
          compressed
        }
      if (!converged) {
        // checkpoint every level: the LCP descent joins each one,
        // and re-deriving nested windows per join would be quadratic
        val next0 = Materialize.localCheckpoint(cur.select(
            Seq(col("sa_doc"), col("pos")) ++ extra.map(col) :+
              struct(col("r").as("a"),
                coalesce(lead(col("r"), width.toInt).over(byDoc), zero)
                  .as("b")).as("r"): _*))
        zero = struct(zero.as("a"), zero.as("b"))
        leaves *= 2
        width *= 2
        val next =
          if (width == j0wTarget) next0.withColumn("rb", col("r")) else next0
        levels = (width, next) :: levels
      }
    }

    // adjacency WITHIN rank buckets at the widest level <= minLen: a
    // pair with LCP >= minLen shares its first minLen tokens, so its
    // global neighbor is its bucket neighbor (anything between them
    // shares the prefix too) — one partitioned window, never a global
    // total-order pass. If the loop converged before the bucket width
    // (equal-at-final-rank == fully equal suffixes), the final rank
    // itself is the bucket: any pair with LCP >= minLen is then a
    // clone pair sharing it
    val fin0 = levels.head._2
    val fin = if (fin0.columns.contains("rb")) fin0
              else fin0.withColumn("rb", col("r"))
    // The occurrence probe below needs only (sa_doc, pos, rb) — rb is
    // tagged at the SHALLOW j0w level, so the probe re-derives that
    // narrow prefix of the chain instead of fin: persisting fin's
    // full-width struct ranks (up to maxDocLen leaves per row) was the
    // one memory-hungry cache in the rewrite and measured as an
    // IN-SUITE hazard (q274 14.2 s under suite memory pressure vs
    // ~6 s isolated). The narrow bucket rows persist instead.
    val bucketsLong = Materialize.persist(
      levels.find(_._1 == j0wTarget).map(_._2)
        .getOrElse(fin)
        .select(col("sa_doc"), col("pos"), col("rb")))
    val candLong = Materialize.localCheckpoint(fin
      .withColumn("nxt",
        lead(struct(col("sa_doc"), col("pos")), 1).over(
          Window.partitionBy("rb")
            .orderBy(col("r"), col("sa_doc"), col("pos"))))
      .filter(col("nxt").isNotNull)
      .select(col("sa_doc").as("da"), col("pos").as("pa"),
        col("nxt.sa_doc").as("db"), col("nxt.pos").as("pb")))
    (candLong, bucketsLong)
    }

    // exact LCP per candidate pair. Short-doc corpora (the usual
    // training-data shape) compare the two token arrays directly —
    // two joins, O(doc len) per candidate, every index in bounds by
    // the least() cap. Long-doc corpora take the classic O(log len)
    // descent over the retained rank levels instead: O(len)-per-pair
    // would make a million-token clone pair cost a million compares
    val exact =
      if (structOnly)
        cand
          .join(docs.select(col("sa_doc").as("da"), col("toks").as("ta")),
            Seq("da"))
          .join(docs.select(col("sa_doc").as("db"), col("toks").as("tb")),
            Seq("db"))
          .withColumn("m", least(
            size(col("ta")).cast("long") - col("pa"),
            size(col("tb")).cast("long") - col("pb")))
          .withColumn("lcp_f", expr(
            """aggregate(sequence(1L, m),
               named_struct('eq', true, 'c', CAST(0 AS BIGINT)),
               (acc, i) -> IF(acc.eq AND
                   element_at(ta, CAST(pa + i AS INT)) =
                   element_at(tb, CAST(pb + i AS INT)),
                 named_struct('eq', true, 'c', acc.c + 1L),
                 named_struct('eq', false, 'c', acc.c)),
               acc -> acc.c)"""))
          .filter(col("lcp_f") >= minLen.toLong)
      else {
        var cur = cand.withColumn("lcp", lit(0L))
        levels.foreach { case (w, tab) =>
          val ta = tab.select(col("sa_doc").as("jda"), col("pos").as("jpa"),
            col("r").as("jra"))
          val tb = tab.select(col("sa_doc").as("jdb"), col("pos").as("jpb"),
            col("r").as("jrb"))
          cur = cur
            .join(ta, col("da") === col("jda") &&
              col("pa") + col("lcp") === col("jpa"), "left")
            .join(tb, col("db") === col("jdb") &&
              col("pb") + col("lcp") === col("jpb"), "left")
            .withColumn("lcp",
              when(col("jra").isNotNull && col("jra") === col("jrb"),
                col("lcp") + w).otherwise(col("lcp")))
            .drop("jda", "jpa", "jra", "jdb", "jpb", "jrb")
        }
        // the sentinel-padded case (two suffixes equal to their common
        // end) overcounts by design; the remaining-length cap settles it
        cur
          .join(lens.select(col("sa_doc").as("da"), col("slen").as("la")),
            Seq("da"))
          .join(lens.select(col("sa_doc").as("db"), col("slen").as("lb")),
            Seq("db"))
          .withColumn("lcp_f", least(col("lcp"),
            col("la") - col("pa"), col("lb") - col("pb")))
          .filter(col("lcp_f") >= minLen.toLong)
      }

    // repeat text from the first suffix of each adjacent pair; each
    // winner keeps a WITNESS suffix so the occurrence count below can
    // probe by the witness's rank bucket instead of scanning tokens
    val winners = Materialize.localCheckpoint(exact
      .join(docs.select(col("sa_doc").as("da"), col("toks")), Seq("da"))
      .select(
        concat_ws(" ", slice(col("toks"), (col("pa") + 1).cast("int"),
          col("lcp_f").cast("int"))).as("repeat_text"),
        col("lcp_f").as("repeat_len"),
        struct(col("da"), col("pa")).as("wit"))
      .groupBy("repeat_text", "repeat_len")
      .agg(min("wit").as("wit"))
      .orderBy(col("repeat_len").desc, col("repeat_text").asc)
      .limit(topK))

    // occurrence counts for the <= topK winners: every true occurrence
    // shares the witness's first-j0w tokens, hence its rank BUCKET —
    // one broadcast probe on rb (selective by construction), then
    // exact slice equality against the doc's token array
    val probes = winners
      .join(buckets.select(col("sa_doc").as("wd"), col("pos").as("wp"),
          col("rb")),
        col("wit.da") === col("wd") && col("wit.pa") === col("wp"))
      .select(col("rb"), col("repeat_text"), col("repeat_len"),
        split(col("repeat_text"), " ").as("rtoks"))
    val occ = buckets
      .join(broadcast(probes), "rb")
      .join(docs, "sa_doc")
      .filter(slice(col("toks"), (col("pos") + 1).cast("int"),
        col("repeat_len").cast("int")) === col("rtoks"))
      .groupBy("repeat_text", "repeat_len")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct("sa_doc").as("n_docs"))
    occ
      .select(col("repeat_len"), col("n_docs"), col("n_occurrences"),
        col("repeat_text"))
      .orderBy(col("repeat_len").desc, col("repeat_text").asc)
  }

  /** ExactSubstr span REMOVAL — the Lee et al. 2022 dedup PRODUCT
    * ([[longestRepeats]] surfaces the repeats; this rewrites the
    * corpus): every token that lies inside ANY substring of length
    * ≥ `minLen` tokens occurring ≥ 2 times corpus-wide is dropped
    * (ALL occurrences — the released ExactSubstr tool's behavior:
    * with the span gone everywhere, no copy is privileged and the
    * rewrite is order-independent), and each document re-emits from
    * its surviving tokens.
    *
    * Equivalence that makes this ONE aggregation instead of a suffix
    * sort: a substring of length L ≥ minLen occurs twice iff every
    * one of its minLen-token windows occurs twice (each window rides
    * the two occurrences), and a duplicated minLen-window IS a
    * duplicated substring of length minLen — so the union of
    * ≥-minLen duplicated spans equals the union of duplicated
    * minLen-gram windows. Marking therefore needs only the corpus
    * gram-frequency table (the suffix array's full rank machinery is
    * for UNBOUNDED-length reporting, where no fixed window captures
    * the answer; for fixed-threshold removal the gram formulation is
    * exact and one shuffle).
    *
    * Plan: one gram explode (every fitting start emits its
    * minLen-token window), one grouped count keeping grams with ≥ 2
    * occurrences, one semi join back marking duplicate START
    * positions, then a per-document rowsBetween(-(minLen−1), 0) max
    * window turns start marks into covered-token marks (positions
    * are dense per doc, so the row window IS the span window — the
    * [[longestRepeats]] lead trick), and one per-doc rebuild
    * aggregation. Everything is doc- or gram-keyed — no self-join,
    * no global sort, no driver state.
    *
    * Scale: gram rows are O(corpus tokens) with O(minLen)-byte
    * payloads; at 100 TB pass `hashGrams = true` to shuffle a
    * 128-bit two-seed xxhash64 key (16 bytes) instead of the gram
    * string — same algebra, gated hashed == exact in
    * `SuffixArraySpec`. The gate keeps the exact string so the
    * DuckDB oracle replays verbatim. Corpus gram frequency is a
    * map-side-combinable grouped count, never a gram window — a
    * boilerplate gram's 10⁸ occurrences arrive at the reducer
    * pre-collapsed (see [[dupKeys]]). Per-doc rebuild state is
    * document-sized (the corpus's own row bound), never
    * corpus-sized.
    *
    * Output: one row per INPUT document — (idCol, clean_text,
    * n_tokens, n_removed); blank/whitespace docs pass through with
    * zero counts, fully-duplicated docs come back with empty
    * clean_text (downstream drops or keeps them — the rewrite does
    * not decide).
    */
  def exactSubstrDedup(df: DataFrame, idCol: String, textCol: String,
                       minLen: Int = 20,
                       hashGrams: Boolean = false): DataFrame = Materialize.scope {
    require(minLen >= 2, "minLen must be >= 2 (1 would drop every " +
      "token that appears twice anywhere)")
    val docs = Materialize.persist(tokenized(df, idCol, textCol))
    val grams = keyed(gramRows(docs, minLen), hashGrams)
    val dupStarts = grams.join(dupKeys(grams), Seq("g"), "left_semi")
      .select(col("sa_doc"), col("pos"), lit(1L).as("ds"))
    Materialize.localCheckpoint(rewriteMarked(docs, dupStarts, minLen, idCol))
  }

  /** Corpus-duplicated gram keys: `groupBy(g).count >= 2`. A grouped
    * count instead of `count over Window.partitionBy(g)` is the skew
    * fix (VERDICT r13 #1): a window cannot partial-aggregate, so a
    * boilerplate gram with 10⁸ occurrences (license header, navbar)
    * buffered in ONE task — a guaranteed straggler/spill at 100 TB.
    * The grouped count map-side-combines (the hot key arrives
    * pre-collapsed, one row per upstream partition) and the semi
    * join back STREAMS the hot gram's probe rows — and, unlike a
    * window, a skewed shuffled-hash-join partition is splittable by
    * AQE's skew-join rule. Price: the gram table shuffles twice;
    * both exchanges carry the same narrow (sa_doc, pos, g) rows.
    */
  private def dupKeys(grams: DataFrame): DataFrame =
    grams.groupBy("g").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2L).select("g")

  /** The callable form of the scaladoc's 100 TB note: with
    * `hashGrams` the shuffle key is a 128-bit two-seed xxhash64
    * struct (16 bytes) instead of the ~minLen-token gram STRING —
    * same algebra, ~an-order-of-magnitude narrower gram exchanges. A
    * false positive needs a 128-bit collision between two distinct
    * grams (≈ n²/2¹²⁸ — astronomically unlikely; `SuffixArraySpec`
    * gates hashed == exact on real corpora). The gate keeps the
    * exact string so the DuckDB oracle replays verbatim.
    */
  private def keyed(grams: DataFrame, hashGrams: Boolean): DataFrame =
    if (!hashGrams) grams
    else grams.select(col("sa_doc"), col("pos"),
      struct(xxhash64(col("g")), xxhash64(lit("sa2"), col("g")))
        .as("g"))

  /** (sa_doc, toks) with blank/whitespace docs as empty arrays. */
  private[core] def tokenized(df: DataFrame, idCol: String,
                        textCol: String): DataFrame =
    df.select(col(idCol).as("sa_doc"),
      when(length(trim(col(textCol))) === 0,
          expr("CAST(array() AS ARRAY<STRING>)"))
        .otherwise(TextAnalysis.tokens(col(textCol))).as("toks"))

  /** Every fitting start's minLen-token window as (sa_doc, pos, g);
    * tokens are whitespace-split so the single-space join is
    * collision-free.
    */
  private[core] def gramRows(docs: DataFrame, minLen: Int): DataFrame =
    docs.filter(size(col("toks")) >= minLen)
      .select(col("sa_doc"), explode(expr(
        s"""transform(sequence(0L, CAST(size(toks) - $minLen AS LONG)),
            s -> struct(s AS pos,
              concat_ws(' ', slice(toks, CAST(s + 1 AS INT), $minLen))
                AS g))""")).as("sg"))
      .select(col("sa_doc"), col("sg.pos").as("pos"), col("sg.g").as("g"))

  /** The rewrite tail shared by the batch and incremental paths:
    * turn duplicate-window START marks into covered-token marks via a
    * per-doc rowsBetween(-(minLen−1), 0) max window (positions are
    * dense per doc, so the row window IS the span window; starts
    * never overhang — grams exist only where the window fits), then
    * rebuild each doc from its surviving tokens.
    */
  private[core] def rewriteMarked(docs: DataFrame, dupStarts: DataFrame,
                            minLen: Int, idCol: String): DataFrame = {
    // Only docs carrying at least one duplicate-window start pay the
    // token explode + span window + per-doc reassembly; every other
    // doc's rewrite is the IDENTITY re-join of its own token array —
    // one projection, no explode, no shuffle beyond the doc-id semi/
    // anti joins (guide §2.3: don't move rows whose answer is already
    // on them; the r16 shape exploded and re-collected EVERY doc).
    // `array_join(toks, ' ')` is exactly the single-space token rejoin
    // the dirty path's concat_ws produces, and a start-free doc's cov
    // column was NULL on every row, so the two paths agree precisely
    // on untouched docs (spec-gated). The two docs-side joins share
    // one exchange subtree (ReusedExchange) or broadcast the narrow
    // dirtyIds when small.
    val dirtyIds = dupStarts.select("sa_doc").distinct()
    val untouched = docs.join(dirtyIds, Seq("sa_doc"), "left_anti")
      .select(col("sa_doc").as(idCol),
        array_join(col("toks"), " ").as("clean_text"),
        size(col("toks")).cast("long").as("n_tokens"),
        lit(0L).as("n_removed"))
    val toks = docs.join(dirtyIds, Seq("sa_doc"), "left_semi")
      .select(col("sa_doc"),
        posexplode(col("toks")).as(Seq("pos", "tok")))
      .select(col("sa_doc"), col("pos").cast("long").as("pos"), col("tok"))
    val w = Window.partitionBy("sa_doc").orderBy("pos")
      .rowsBetween(-(minLen - 1).toLong, Window.currentRow)
    // co-partition the mark join on sa_doc ALONE: hash(sa_doc)
    // satisfies the (sa_doc, pos) equi-join's clustering on both
    // sides, the join's (sa_doc, pos) sort feeds the span window
    // unchanged, and the per-doc aggregation reuses the partitioning —
    // one exchange per side carries join + window + agg, where the
    // default hash(sa_doc, pos) join would re-exchange the full
    // token table for the window (guide §2.4: two operations keyed
    // the same way share one exchange).
    val marked = toks.repartition(col("sa_doc"))
      .join(dupStarts.repartition(col("sa_doc")), Seq("sa_doc", "pos"),
        "left")
      .withColumn("cov", max(col("ds")).over(w))
    val rebuilt = marked.groupBy("sa_doc").agg(
      count(lit(1)).as("n_tokens"),
      coalesce(sum(when(col("cov") === 1L, 1L).otherwise(0L)), lit(0L))
        .as("n_removed"),
      // collect_list skips NULLs: only surviving tokens ride, sorted
      // back into document order by the struct's leading pos
      expr("""concat_ws(' ', transform(
          array_sort(collect_list(CASE WHEN cov IS NULL
            THEN struct(pos, tok) END)),
          x -> x.tok))""").as("clean_text"))
      .select(col("sa_doc").as(idCol), col("clean_text"),
        col("n_tokens"), col("n_removed"))
    rebuilt.unionByName(untouched)
  }

  /** Create/extend the persisted gram index behind
    * [[exactSubstrDedupIncremental]]: every fitting minLen-window of
    * the batch as (sa_doc, pos, g) rows appended to a transactional
    * [[graft.sources.SnapshotTable]] — the [[Dedup.writeBandIndex]]
    * discipline, applied to exact-substring state. Pass
    * `writer = Some((appId, version))` for replay-safe (exactly-once)
    * appends.
    *
    * Why GRAM COUNTS and not suffix-array ranks: the removal product
    * is fixed-threshold, where gram marking is exactly equivalent to
    * SA-adjacent LCP marking (the [[exactSubstrDedup]] equivalence)
    * — and gram rows are append-only under corpus growth, while SA
    * ranks would re-shuffle on every append (a rank is a property of
    * the whole corpus ordering). Unbounded-length REPORTING
    * ([[longestRepeats]]) still rebuilds; removal never has to.
    */
  def writeGramIndex(df: DataFrame, idCol: String, textCol: String,
                     indexDir: String, minLen: Int = 20,
                     writer: Option[(String, Long)] = None,
                     hashGrams: Boolean = false): Unit = {
    // hashGrams shrinks the PERSISTED index ~an order of magnitude
    // (16-byte two-seed keys instead of minLen-token strings) — at
    // 100 TB the index size, not the batch, dominates storage; the
    // [[keyed]] collision argument and the hashed == exact spec gate
    // apply verbatim. An index is hashed or exact for its LIFETIME
    // (the key column's type pins it — mixing appends fails loudly on
    // schema).
    val rows = keyed(gramRows(tokenized(df, idCol, textCol), minLen),
      hashGrams)
    graft.sources.SnapshotTable.appendAs(rows, indexDir, writer)
  }

  /** INCREMENTAL ExactSubstr rewrite — a new crawl batch updates the
    * dedup product without re-shingling or re-counting the
    * accumulated corpus (the [[Dedup.dedupAgainstIndex]] shape for
    * span removal): the batch's grams are appended to the persisted
    * index FIRST (one transactional commit), then the DELTA of
    * documents whose rewrite changes is recomputed —
    *
    *  - every batch doc (its marks are new), plus
    *  - every EXISTING doc holding a gram that this batch pushed
    *    from unique to duplicated (new total ≥ 2 AND total − batch
    *    occurrences < 2 — grams that were already duplicated change
    *    nothing, so their docs are NOT touched).
    *
    * Marking for the affected docs reads gram counts from the index
    * restricted (semi join) to the affected docs' own grams; token
    * arrays for the rewrite come from `corpusDocs` (the accumulated
    * raw-document table, scanned with an id semi join — pushdown-
    * friendly, never fully re-shingled).
    *
    * Per-batch cost: O(batch grams) + O(index rows carrying affected
    * grams) — the corpus-sized gram table is scanned (one pass, no
    * shuffle beyond the affected-gram groups) but never re-derived
    * from text. Streamed == batch: folding each delta over the
    * previous outputs reproduces [[exactSubstrDedup]] of the full
    * corpus exactly (`SuffixArraySpec`).
    *
    * @param corpusDocs the accumulated corpus INCLUDING the new batch
    * @return rewritten rows for AFFECTED docs only (the delta);
    *         unchanged docs keep their previous output rows
    */
  def exactSubstrDedupIncremental(spark: org.apache.spark.sql.SparkSession,
                                  newDocs: DataFrame, corpusDocs: DataFrame,
                                  indexDir: String, idCol: String,
                                  textCol: String, minLen: Int = 20,
                                  writer: Option[(String, Long)] = None,
                                  hashGrams: Boolean = false)
      : DataFrame = Materialize.scope {
    require(minLen >= 2, "minLen must be >= 2")
    writeGramIndex(newDocs, idCol, textCol, indexDir, minLen, writer, hashGrams)
    val idx = graft.sources.SnapshotTable.read(spark, indexDir)
    // every downstream step keys on "g" generically, so the hashed
    // struct key rides the same joins/aggregations — only the
    // persisted bytes change
    val batchGrams = keyed(
        gramRows(tokenized(newDocs, idCol, textCol), minLen), hashGrams)
      .groupBy("g").agg(count(lit(1)).as("bc"))
    // grams this batch pushed from unique to duplicated; idx already
    // contains the batch rows, so c is the NEW total
    val newlyDup = idx.join(batchGrams, "g")
      .groupBy("g", "bc").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2L && col("c") - col("bc") < 2L)
      .select("g")
    val touched = idx.join(newlyDup, Seq("g"), "left_semi")
      .select("sa_doc").distinct()
    // read 3x below; truncate the index scan
    val affected = Materialize.localCheckpoint(touched
      .unionByName(newDocs.select(col(idCol).as("sa_doc")).distinct())
      .distinct())
    // dup status for every gram of an affected doc, counted over the
    // FULL index but only for the gram groups that matter — a
    // map-side-combinable grouped count, never a gram window (the
    // [[dupKeys]] skew rationale: a boilerplate gram must arrive at
    // the reducer pre-collapsed, not buffered in one task)
    val affRows = idx.join(affected, Seq("sa_doc"), "left_semi")
    val affKeys = affRows.select("g").distinct()
    val dupG = dupKeys(idx.join(affKeys, Seq("g"), "left_semi"))
    val dupStarts = affRows.join(dupG, Seq("g"), "left_semi")
      .select(col("sa_doc"), col("pos"), lit(1L).as("ds"))
    val docs = Materialize.persist(tokenized(corpusDocs, idCol, textCol)
      .join(affected, Seq("sa_doc"), "left_semi"))
    Materialize.localCheckpoint(rewriteMarked(docs, dupStarts, minLen, idCol))
  }
}
