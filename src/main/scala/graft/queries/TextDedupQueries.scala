package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import Shared._

/** Queries, each with its DuckDB oracle, for near-duplicate and
  * exact-substring deduplication over `documents` (shingles, MinHash/LSH,
  * winnowing, suffix arrays, clusters) and benchmark decontamination.
  */
private[graft] object TextDedupQueries extends QueryDomain {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- dedup pack --------------------------------------------------

    "q17_dedup_exact_keep" -> ((s, dir) => {
      Dedup.dropExactDups(Tables.documents(s, dir), "doc_id", "text")
        .select("doc_id", "lang", "n_chars")
    }),

    "q18_dedup_exact_groups" -> ((s, dir) => {
      Dedup.exactGroups(Tables.documents(s, dir), "doc_id", "text")
    }),

    "q19_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.2)
    }),

    "q20_minhash_lsh" -> ((s, dir) => {
      Dedup.lshCandidates(Tables.documents(s, dir), "doc_id", "text",
        k = 8, rowsPerBand = 2, n = 3, minEstJaccard = 0.25)
    }),

    "q21_simhash" -> ((s, dir) => {
      Dedup.simhashTable(Tables.documents(s, dir), "doc_id", "text")
    }),

    "q24_fingerprint" -> ((s, dir) => {
      TextAnalysis.fingerprint(Tables.documents(s, dir), "text")
        .select(col("doc_id"), col("fingerprint"))
    }),

    // full dedup resolution: near-dup pairs -> connected components ->
    // survivor per cluster (iterative min-label propagation; the
    // oracle computes the same closure with a recursive CTE)
    "q43_dedup_resolve" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.2)
      Dedup.resolveSurvivors(docs, "doc_id", pairs)
        .select(col("doc_id"), col("survivor_id"), col("is_survivor"))
    }),

    // benchmark decontamination: training docs sharing any 5-gram with
    // the held-out eval slice (doc_id % 10 == 0) are flagged. The eval
    // shingle set broadcasts; the training side never shuffles payloads.
    "q52_decontaminate" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val eval = d.filter(col("doc_id") % 10 === 0)
      val train = d.filter(col("doc_id") % 10 =!= 0)
      graft.core.Decontaminate.flagContaminated(train, eval, "doc_id", "text", n = 5)
        .select(col("doc_id"), col("n_hits"), col("contaminated"))
    }),

    // SPAN-level decontamination: the q302 rewrite with the EVAL
    // suite as the duplicate source — training tokens inside any
    // eval-matching 5-gram window drop, the doc re-emits from its
    // survivors (doc-level q52 discards whole documents; this
    // salvages the clean remainder)
    "q318_decontam_scrub" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      graft.core.Decontaminate.scrubSpans(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", n = 5)
    }),

    // INCREMENTAL doc-level decontamination over the persisted
    // eval-shingle index (the q311/q102 discipline for eval-suite
    // state): the suite arrives as two versions (doc_id % 20 == 0,
    // then % 20 == 10) — each append probes the training corpus
    // against ONLY the keys it newly added, and the folded per-doc
    // deltas must land exactly on the monolithic q52 result over the
    // union suite (the oracle replays q52's SQL verbatim)
    "q319_decontam_incremental" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val train = d.filter(col("doc_id") % 10 =!= 0)
      val t = scratchDir("graft_q319") + "/idx"
      val d1 = graft.core.Decontaminate.flagContaminatedIncremental(
        s, train, d.filter(col("doc_id") % 20 === 0), t,
        "doc_id", "text", n = 5)
        .withColumnRenamed("n_hits_delta", "h1")
      val d2 = graft.core.Decontaminate.flagContaminatedIncremental(
        s, train, d.filter(col("doc_id") % 20 === 10), t,
        "doc_id", "text", n = 5)
        .withColumnRenamed("n_hits_delta", "h2")
      train.select(col("doc_id"))
        .join(d1, Seq("doc_id"), "left")
        .join(d2, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (coalesce(col("h1"), lit(0L)) + coalesce(col("h2"), lit(0L)))
            .as("n_hits"))
        .withColumn("contaminated", col("n_hits") >= 1L)
    }),

    // INCREMENTAL span-level decontamination over the same persisted
    // index: version 1 scrubs via the index (scrubSpansIndexed),
    // version 2 re-scrubs ONLY the training docs holding a key the
    // append newly added; folding (replace-by-id) must equal the
    // monolithic q318 rewrite over the union suite
    "q320_decontam_scrub_incremental" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val train = d.filter(col("doc_id") % 10 =!= 0)
      val t = scratchDir("graft_q320") + "/idx"
      graft.core.Decontaminate.writeEvalShingleIndex(
        d.filter(col("doc_id") % 20 === 0), "doc_id", "text", t, n = 5)
      val base = graft.core.Decontaminate.scrubSpansIndexed(
        s, train, t, "doc_id", "text", n = 5)
      val delta = graft.core.Decontaminate.scrubSpansIncremental(
        s, train, d.filter(col("doc_id") % 20 === 10), t,
        "doc_id", "text", n = 5)
      base.join(delta.select("doc_id"), Seq("doc_id"), "left_anti")
        .unionByName(delta)
    }),

    // bloom-prefiltered decontamination — the 100 TB shape of q52:
    // eval shingles build a relational bloom (portable double-hash,
    // bit_or words, model-size broadcast), train shingles die at the
    // bit test, only candidates reach the exact verify join. No false
    // negatives, so flags == q52's exact path; n_candidates pins the
    // pre-filter's measured selectivity relationally
    "q315_bloom_decontam" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      graft.core.Decontaminate.flagContaminatedBloom(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", n = 5, minHits = 1,
        numBits = 1 << 18, numHashes = 4)
    }),

    // sub-document dedup: 12-word chunks, corpus-wide first-occurrence
    // wins, docs reassembled — catches repeated boilerplate inside
    // otherwise-distinct documents
    "q66_chunk_dedup" -> ((s, dir) => {
      TextAnalysis.chunkDedup(Tables.documents(s, dir), "doc_id", "text", 12)
        .orderBy("doc_id")
    }),

    // SemDeDup (cluster-bucketed semantic dedup): fixed corpus-row
    // centroids (vec_id % 97 == 3, ordered) stand in for a trained
    // quantizer so the whole pipeline — literal-centroid assignment,
    // within-cluster cosine pairs, component resolution — is
    // deterministic and oracle-checkable end-to-end. Trained-centroid
    // behavior (recall vs exact) is covered in SimilaritySpec.
    "q67_semdedup" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val cents = emb.filter(col("vec_id") % 97 === 3)
        .orderBy("vec_id")
        .select(col("embedding").cast("array<double>"))
        .as[Array[Double]].collect()
      val model = graft.ml.KMeansTrainer.KMeansModel(cents, Nil, 0, cosine = true)
      Similarity.semDedup(emb, model, tau = 0.82)
        .select(col("vec_id"), col("bucket").cast("long").as("bucket"),
          col("survivor_id"), col("is_survivor"))
    }),

    // incremental dedup against a persisted MinHash band index: the
    // corpus (two appended increments — exercising the transactional
    // index-growth path) is indexed ONCE; the new batch broadcasts
    // into one index scan. The oracle reproduces the equivalent
    // monolithic band join, so the incremental path is pinned to the
    // same semantics.
    "q70_index_dedup" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val t = scratchDir("graft_q70") + "/idx"
      Dedup.writeBandIndex(d.filter(col("doc_id") % 3 === 0), "doc_id", "text", t)
      Dedup.writeBandIndex(d.filter(col("doc_id") % 3 === 2), "doc_id", "text", t)
      Dedup.dedupAgainstIndex(s, d.filter(col("doc_id") % 3 === 1), t,
          "doc_id", "text", minEstJaccard = 0.5)
        .select(col("doc_id"), col("is_dup"), col("dup_of"), col("est_jaccard"))
    }),

    // exact-substring duplication spans: 8-token sliding windows,
    // corpus-global occurrence flagging, per-doc interval-union
    // coverage — the bounded-width form of suffix-array substring
    // dedup
    "q72_dup_spans" -> ((s, dir) => {
      TextAnalysis.dupSpans(Tables.documents(s, dir), "doc_id", "text", n = 8)
    }),

    // q20's LINEAR-SCALE path under its own full oracle: band buckets
    // above maxBandSize are dropped from candidate generation (the
    // web-scale guard against hot template bands — same lower-bound
    // contract as q95's maxDf). maxBandSize=2 is the strictest cap, so
    // any bucket a dup-cluster inflates past two docs provably bites
    // here: the capped plan, not just the exact one, is hash-verified.
    "q94_lsh_banded_cap" -> ((s, dir) => {
      Dedup.lshCandidates(Tables.documents(s, dir), "doc_id", "text",
        k = 8, rowsPerBand = 2, n = 3, minEstJaccard = 0.25,
        maxBandSize = 2)
    }),

    // q19's LINEAR-SCALE path under its own full oracle: shingles with
    // document frequency above maxDf are dropped from candidate
    // generation (denominators still count them — capped Jaccard is a
    // lower bound of exact). This makes the plan a 100 TB run would
    // actually use the hash-verified one, not just the exact-quadratic
    // baseline.
    "q95_jaccard_maxdf" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.2, maxDf = 4)
    }),

    // quality-aware dedup resolution: the LONGEST member of each
    // near-dup cluster survives (keep-the-most-complete-copy policy)
    // via one struct-max aggregation per cluster — q43's component
    // machinery with a production survivor rule
    "q106_dedup_keep_longest" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.2)
      Dedup.resolveSurvivorsBy(docs, "doc_id", pairs,
        struct(col("n_chars"), (-col("doc_id")).as("neg")))
        .select(col("doc_id"), col("survivor_id"), col("is_survivor"))
    }),

    // dup-span REMOVAL (the transform q72 only measures): non-first
    // occurrences of any corpus-repeated 8-token window are deleted
    // and each doc is rebuilt from its surviving tokens in order —
    // the Lee-et-al exact-substring cleanup as a corpus rewrite
    "q113_dup_span_scrub" -> ((s, dir) => {
      TextAnalysis.scrubDupSpans(Tables.documents(s, dir), "doc_id", "text",
        n = 8)
    }),

    // SOFT dedup: near-dup clusters reweighted (1e6 DIV size) instead
    // of dropped — each cluster contributes one expected copy per
    // epoch; exact BIGINT weights, q43's cluster machinery
    "q136_cluster_weights" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.2)
      Dedup.clusterWeights(docs, "doc_id", pairs)
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          col("weight_micro"))
    }),

    // soft-dedup APPLIED: q136's cluster weights consumed by the
    // deterministic weighted Bernoulli draw (hash of id:epoch:seed
    // mod 1e6 < weight) — a size-k cluster keeps ~one expected member
    // this epoch, a different one next epoch; zero shuffles added
    "q146_weighted_sample" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.2)
      val w = Dedup.clusterWeights(docs, "doc_id", pairs)
      Sampling.weightedSample(w, "doc_id", "weight_micro", epoch = 0)
        .select(col("doc_id"), col("cluster_id"), col("weight_micro"),
          col("u_micro"))
    }),

    // shingle containment — the ASYMMETRIC near-dup measure (quote /
    // sub-document copy detection): |A∩B| DIV |A| per direction,
    // exact integers, same inverted-index candidate machinery as q19
    "q167_containment" -> ((s, dir) =>
      Dedup.containmentPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, thresholdMicro = 500000L)),

    // cross-source shared-boilerplate matrix (the dataset-card
    // leakage grid): per source pair, how many distinct 8-token
    // document OPENINGS appear in both — the shared-header/template
    // signal exact-text dedup misses; shuffles carry md5 hashes,
    // never text
    "q168_cross_source_dups" -> ((s, dir) => {
      val hs = Tables.documents(s, dir)
        .select(md5(concat_ws(" ",
          slice(TextAnalysis.tokens(col("text")), 1, 8))).as("h"),
          col("source"))
        .distinct()
      hs.as("a").join(hs.as("b"),
          col("a.h") === col("b.h") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_1"),
          col("b.source").as("source_2"))
        .agg(count(lit(1)).as("n_shared_openings"))
    }),

    // per-source MinHash signatures + pairwise estimated Jaccard —
    // the source-overlap matrix at sketch cost: each source collapses
    // to k=8 longs (one grouped min-agg over its shingle hashes), the
    // matrix is a cross of the source-bounded signature table
    "q170_source_minhash" -> ((s, dir) => {
      val sigs = Dedup.minhashSignatures(
        Tables.documents(s, dir).select(col("source"), col("text")),
        "source", "text", k = 8)
      val sigArr = array((0 until 8).map(i => col(s"mh_$i")): _*)
      val a = sigs.select(col("doc").as("source_1"), sigArr.as("sig_1"))
      val b = sigs.select(col("doc").as("source_2"), sigArr.as("sig_2"))
      a.crossJoin(b).filter(col("source_1") < col("source_2"))
        .withColumn("n_match", expr(
          """aggregate(sequence(0, 7), 0L, (acc, i) ->
            |  acc + CASE WHEN element_at(sig_1, i + 1)
            |                 = element_at(sig_2, i + 1)
            |             THEN 1L ELSE 0L END)""".stripMargin))
        .select(col("source_1"), col("source_2"), col("n_match"),
          expr("n_match * 1000000 DIV 8").as("est_jaccard_micro"))
    }),

    // split-leakage audit: near-dup pairs must not straddle
    // train/val/test — the check every hash split ships with (a
    // near-dup of a training doc inside test inflates eval); counts
    // per canonical split pair, leak rows flagged
    "q172_split_leakage" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.2)
      val split = Sampling.hashSplit(docs, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
      pairs
        .join(split.select(col("doc_id").as("doc_a"),
          col("split").as("split_a")), "doc_a")
        .join(split.select(col("doc_id").as("doc_b"),
          col("split").as("split_b")), "doc_b")
        .groupBy(least(col("split_a"), col("split_b")).as("split_1"),
          greatest(col("split_a"), col("split_b")).as("split_2"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("leaking", col("split_1") =!= col("split_2"))
    }),

    // near-dup cluster size histogram — the dedup stats card: how
    // much of the corpus sits in clusters of which size (the number
    // that justifies hard dedup vs soft reweighting)
    "q173_dup_cluster_histogram" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.2)
      Dedup.resolveSurvivors(docs, "doc_id", pairs)
        .groupBy(col("survivor_id")).agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          expr("cluster_size * n_clusters").as("n_docs"))
    }),

    // leave-one-out n-gram novelty: the share of a doc's distinct
    // 8-grams that appear in NO other document — the text-uniqueness
    // signal between exact dup (0) and fully-novel (1e6). One explode
    // + two grouped counts, all linear; exact integer micro share
    "q202_ngram_novelty" -> ((s, dir) => {
      val sh = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(Dedup.shingles(col("text"), 8)).as("g"))
      val df8 = sh.groupBy(col("g")).agg(count(lit(1)).as("df"))
      sh.join(df8, "g")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novel_micro",
          expr("n_novel * 1000000 DIV n_grams"))
    }),

    // prefix-filtered exact Jaccard pairs (AllPairs/PPJoin): the
    // LOSSLESS scale path for q19's inverted index — rare-first global
    // shingle order, per-doc prefixes of length |d|−⌈t|d|⌉+1,
    // candidates only from prefix postings, full verification.
    // t=0.6 is the technique's regime (prefix ≈ 40% of postings and
    // candidate pairs collapse; at t=0.2 the prefix keeps 80% and the
    // filter buys nothing — spec-pinned lossless at both)
    "q253_prefix_jaccard" -> ((s, dir) => {
      Dedup.prefixJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.6)
    }),

    // the CAPPED prefix-Jaccard path (maxDf drops hot prefix postings
    // from candidate generation — the linear-scale hook on a clone-
    // heavy corpus, measured by `ScaleProbe skew`): on this corpus no prefix
    // posting exceeds 64 docs, so the capped result is pinned to the
    // SAME exact oracle as the lossless q253 while the gate exercises
    // the capped code path (the q94/q95 capped-gate discipline)
    "q261_prefix_jaccard_capped" -> ((s, dir) => {
      Dedup.prefixJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.6, maxDf = 64)
    }),

    // distributed suffix array (prefix doubling) over the documents
    // corpus: the 20 LONGEST exactly-repeated substrings at UNBOUNDED
    // length — the Lee et al. 2022 ExactSubstr shape that closes the
    // dupSpans fixed-window gap (q72 reports 8-token coverage; this
    // reports the 90+-token clones at their true length). Candidates
    // are SA-adjacent pairs only (never all-pairs), pre-filtered by
    // rank-bucket equality at the widest level <= minLen
    "q274_longest_repeats" -> ((s, dir) =>
      graft.core.SuffixArray.longestRepeats(
        Tables.documents(s, dir), "doc_id", "text",
        minLen = 12, topK = 20)),

    // winnowing fingerprint match pairs (Schleimer et al. SIGMOD'03,
    // the MOSS algorithm): rightmost-min-per-window fingerprint
    // selection (~2/(w+1) of the grams) with the exact detection
    // guarantee above w+k-1 tokens, then the inverted-index pair
    // join with the q95 hot-key cap
    "q305_winnow_pairs" -> ((s, dir) =>
      Dedup.winnowMatchPairs(Tables.documents(s, dir), "doc_id", "text",
        k = 3, w = 4, maxDf = 64)),

    // incremental winnowing against a persisted fingerprint index
    // (the q70 shape for MOSS): two corpus slices indexed in separate
    // transactional appends, the third arrives as the new batch —
    // delta = every pair with >= 1 shared capped fingerprint and a
    // batch side. The oracle replays the monolithic q305 selection
    // restricted to batch-touching pairs, pinning the incremental
    // path to the batch semantics
    "q311_winnow_incremental" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val t = scratchDir("graft_q311") + "/idx"
      Dedup.writeFingerprintIndex(d.filter(col("doc_id") % 3 === 0),
        "doc_id", "text", t)
      Dedup.writeFingerprintIndex(d.filter(col("doc_id") % 3 === 2),
        "doc_id", "text", t)
      Dedup.winnowMatchPairsIncremental(s,
        d.filter(col("doc_id") % 3 === 1), t, "doc_id", "text",
        k = 3, w = 4, maxDf = 64)
    }),

    // ExactSubstr span REMOVAL (the Lee et al. 2022 dedup PRODUCT —
    // q274 surfaces the repeats, this one rewrites the corpus): every
    // token inside any >= 12-token substring occurring twice
    // corpus-wide drops (all occurrences), each doc re-emits from its
    // survivors. One gram-frequency aggregation + a per-doc window —
    // no suffix sort needed for fixed-threshold removal
    "q302_exact_substr_dedup" -> ((s, dir) =>
      graft.core.SuffixArray.exactSubstrDedup(
        Tables.documents(s, dir), "doc_id", "text", minLen = 12)),

    // SEMANTIC decontamination — the n-gram faces' structural blind
    // spot: a paraphrased eval item shares no 8-gram but sits next
    // to its source in embedding space. One broadcast cross against
    // the eval embeddings + a per-doc struct argmax; threshold
    // compares the unrounded cosine
    "q326_semantic_decontam" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.core.Decontaminate.flagContaminatedEmbedding(
        emb.filter(col("vec_id") % 10 =!= 0),
        emb.filter(col("vec_id") % 10 === 0),
        threshold = 0.42)
    }),

    // INCREMENTAL semantic decontamination over the persisted
    // eval-embedding index — all three decontamination modalities
    // now share the q311-style lifecycle: two suite versions append
    // (vec_id % 20 ∈ {0, 10} == the % 10 == 0 eval slice), each delta
    // screens the corpus against its own vectors only, and the
    // per-doc (rounded-cosine, lowest-id) max fold must equal the
    // monolithic q326 result — max is associative, so the fold is
    // exact by construction
    "q330_semantic_decontam_incremental" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val train = emb.filter(col("vec_id") % 10 =!= 0)
      val t = scratchDir("graft_q330") + "/idx"
      val d1 = graft.core.Decontaminate
        .flagContaminatedEmbeddingIncremental(s, train,
          emb.filter(col("vec_id") % 20 === 0), t, threshold = 0.42)
      val d2 = graft.core.Decontaminate
        .flagContaminatedEmbeddingIncremental(s, train,
          emb.filter(col("vec_id") % 20 === 10), t, threshold = 0.42)
      d1.unionByName(d2)
        .groupBy("vec_id")
        .agg(max(struct(col("max_cosine").as("c"),
            (-col("nearest_eval_id")).as("ne"))).as("m"),
          max(when(col("contaminated"), 1).otherwise(0)).as("anyc"))
        .select(col("vec_id"), col("m.c").as("max_cosine"),
          (-col("m.ne")).as("nearest_eval_id"),
          (col("anyc") === 1).as("contaminated"))
    }),

    // BEYOND-BROADCAST semantic decontamination: the q326 screen
    // re-expressed over the PERSISTED eval-embedding index with IVF
    // bucketing (q27's fixed vec_id % 97 = 3 centroids) at nProbe=0
    // — every bucket probed, so each (train, eval) pair scores
    // exactly once and the result is the broadcast face bit-for-bit
    // (the oracle replays q326's SQL verbatim); per-task memory is
    // one bucket of eval vectors, never the whole suite
    "q331_semantic_decontam_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = emb.filter(col("vec_id") % 97 === 3)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      val t = scratchDir("graft_q331") + "/idx"
      graft.core.Decontaminate.writeEvalEmbeddingIndex(
        emb.filter(col("vec_id") % 10 === 0), "vec_id", "embedding", t)
      graft.core.Decontaminate.flagContaminatedEmbeddingIvf(s,
        emb.filter(col("vec_id") % 10 =!= 0), t, cents,
        threshold = 0.42, nProbe = 0)
    }),

    // homoglyph-hardened dedup key: confusable skeleton (NFC, strip
    // invisibles, casefold, Cyrillic/Greek lookalikes -> ASCII). The
    // gate stages the attack the operator exists for (the q52/q57
    // derived-slice pattern): every 20th doc re-enters with Cyrillic
    // а/е/о substituted and a zero-width space injected — byte-exact
    // dedup sees disjoint singletons, the skeleton reunites each pair
    // (n_variants = 2); at sf0.1 the corpus's own case-insensitive
    // groups surface too
    "q279_skeleton_dups" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val spoofed = docs.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(substring(col("text"), 1, 1), lit("\u200B"),
            translate(expr("substring(text, 2)"), "aeo", "аео"))
            .as("text"))
      TextAnalysis.skeletonDupGroups(docs.unionByName(spoofed),
        "doc_id", "text")
    }),

    // edit-distance near-dup join on a 40-char normalized prefix key:
    // Ed-Join prefix-filtered candidates (rarest k·q+1 char-grams),
    // thresholded-banded levenshtein verify. The gate STAGES the
    // near-miss the operator exists for (the q279 pattern): every
    // 10th doc re-enters with chars 4-5 of its key replaced by 'zq'
    // (ed ≤ 2); the corpus's own exact-dup families surface as ed = 0
    "q281_edit_neardup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        lower(substring(trim(col("text")), 1, 40)).as("key"))
      val spoof = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(substring(col("key"), 1, 3), lit("zq"),
            expr("substring(key, 6)")).as("key"))
      Dedup.editNearDupPairs(docs.unionByName(spoof), "doc_id", "key",
        k = 2, q = 3)
    }),

    // greedy maximum-coverage source selection: which 5 sources cover
    // the most distinct word trigrams — the Nemhauser-Wolsey-Fisher
    // greedy as k bounded driver passes (the q278 discipline)
    "q296_set_cover" -> ((s, dir) => {
      val pe = Tables.documents(s, dir).select(col("source"),
        explode(Dedup.shingles(col("text"), 3)).as("tri"))
      Sampling.greedySetCover(pe, "source", "tri", k = 5)
    })
  )

  def oracleSql: Map[String, String] = Map(
    // keep the min-id ROW wholesale (the engine's exemplar
    // semantics), NOT independent per-column minima: a duplicate
    // group whose min-id copy carries lang 'zh' while another copy
    // carries 'en' must report 'zh'. (Independent min(lang) passed at
    // sf0.01 by luck and failed the sf0.1 audit.)
    "q17_dedup_exact_keep" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1""".stripMargin,

    "q18_dedup_exact_groups" ->
      """SELECT sha256(text) AS text_hash, count(*) AS n_copies,
        |  min(doc_id) AS keep_id
        |FROM documents GROUP BY 1""".stripMargin,

    "q19_ngram_jaccard" ->
      s"""$jaccardPairsQuery
        |WHERE CAST(p.n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - p.n_common) >= 0.2""".stripMargin,

    "q20_minhash_lsh" ->
      s"""$minhashBandCtes
        |cand AS (
        |$minhashEstJaccardCols
        |  FROM banded a JOIN banded b
        |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
        |    AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, est_jaccard FROM cand WHERE est_jaccard >= 0.25""".stripMargin,

    "q21_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents),
        |th AS (
        |  SELECT doc_id, tok,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(regexp_split_to_array(tok, ''), c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM toks),
        |bits AS (
        |  SELECT doc_id, i.range AS i,
        |    sum(CASE WHEN (h // CAST(2 ** i.range AS BIGINT)) % 2 = 1
        |        THEN 1 ELSE -1 END) AS vote
        |  FROM th, range(32) i GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN vote > 0 THEN CAST(2 ** i AS BIGINT) ELSE 0 END)
        |    AS BIGINT) AS simhash
        |FROM bits GROUP BY 1""".stripMargin,

    "q24_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint
        |FROM documents""".stripMargin,

    "q43_dedup_resolve" -> q43OracleSql,

    "q52_decontaminate" ->
      s"""$contamHitsQuery""".stripMargin,

    // q318: the q302 rewrite CTEs with eval grams as the mark source
    // (cover window 4 PRECEDING for n = 5), emitted for train docs
    "q318_decontam_scrub" ->
      s"""$spanScrubQuery""".stripMargin,

    // q319: the Spark side folds two eval-version deltas probed
    // against the persisted index; the incremental==batch equivalence
    // (each distinct key is fresh in exactly one version, hits count
    // distinct shared keys) means the oracle IS the monolithic q52
    // replay over the union suite (doc_id % 20 ∈ {0,10} == % 10 = 0)
    "q319_decontam_incremental" ->
      s"""$contamHitsQuery""".stripMargin,

    // q320: same equivalence for the span rewrite — an unaffected doc
    // (no gram matching a v2-fresh key) keeps its v1 rewrite, affected
    // docs re-scrub against the FULL key set, so the fold equals the
    // monolithic q318 replay over the union suite
    "q320_decontam_scrub_incremental" ->
      s"""$spanScrubQuery""".stripMargin,

    // q315: the whole bloom replayed — the q305 hash chain twice
    // (second seed via the '#b2' suffix, forced odd), double-hashed
    // positions, bit_or words over 62-bit lanes, all-bits membership,
    // then the q52 exact-verify tail on the candidates
    "q315_bloom_decontam" ->
      s"""$evalShingleCtes
        |tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 10 <> 0),
        |keys AS (
        |  SELECT shingle FROM ev
        |  UNION
        |  SELECT DISTINCT shingle FROM tr),
        |h0 AS (
        |  SELECT shingle,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(shingle, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS r,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(shingle || '#b2', ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS r2
        |  FROM keys),
        |m1 AS (SELECT shingle,
        |    (xor(r, r // 65536) * 73244475) % 4294967296 AS a,
        |    (xor(r2, r2 // 65536) * 73244475) % 4294967296 AS b
        |  FROM h0),
        |m2 AS (SELECT shingle,
        |    (xor(a, a // 65536) * 73244475) % 4294967296 AS a,
        |    (xor(b, b // 65536) * 73244475) % 4294967296 AS b
        |  FROM m1),
        |hh AS (SELECT shingle, xor(a, a // 65536) AS h1,
        |    xor(b, b // 65536) * 2 + 1 AS h2
        |  FROM m2),
        |pos AS (
        |  SELECT shingle, (h1 + i * h2) % 262144 AS pos
        |  FROM hh, unnest(generate_series(0, 3)) AS u(i)),
        |bw AS (
        |  SELECT pos // 62 AS word_idx,
        |    bit_or(CAST(1 AS BIGINT) << CAST(pos % 62 AS INT)) AS bits
        |  FROM pos JOIN ev USING (shingle) GROUP BY 1),
        |hitbits AS (
        |  SELECT p.shingle,
        |    CASE WHEN w.bits IS NOT NULL AND
        |      (w.bits & (CAST(1 AS BIGINT) << CAST(p.pos % 62 AS INT)))
        |        != 0 THEN 1 ELSE 0 END AS hit
        |  FROM pos p
        |  JOIN (SELECT DISTINCT shingle FROM tr) tk USING (shingle)
        |  LEFT JOIN bw w ON w.word_idx = p.pos // 62),
        |bh AS (
        |  SELECT shingle FROM hitbits GROUP BY shingle
        |  HAVING sum(hit) = 4),
        |cand AS (SELECT tr.doc_id, tr.shingle FROM tr
        |  JOIN bh USING (shingle)),
        |co AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
        |  FROM tr GROUP BY 1),
        |cc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_candidates
        |  FROM cand GROUP BY 1),
        |hits AS (SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hits
        |  FROM cand c JOIN ev USING (shingle) GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(co.n_shingles, 0) AS n_shingles,
        |  coalesce(cc.n_candidates, 0) AS n_candidates,
        |  coalesce(hits.n_hits, 0) AS n_hits,
        |  coalesce(hits.n_hits, 0) >= 1 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d
        |LEFT JOIN co USING (doc_id)
        |LEFT JOIN cc USING (doc_id)
        |LEFT JOIN hits USING (doc_id)""".stripMargin,

    "q66_chunk_dedup" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words FROM documents),
        |l AS (
        |  SELECT doc_id,
        |    [array_to_string(list_slice(words, i*12 + 1, i*12 + 12), ' ')
        |     for i in generate_series(0, (len(words) - 1) // 12)]
        |      AS chunks
        |  FROM w),
        |c AS (
        |  SELECT doc_id, unnest(chunks) AS chunk,
        |    generate_subscripts(chunks, 1) - 1 AS pos
        |  FROM l),
        |f AS (
        |  SELECT doc_id, chunk, pos,
        |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
        |  FROM c)
        |SELECT doc_id, count(*) AS n_kept,
        |  string_agg(chunk, ' ' ORDER BY pos) AS text_dedup
        |FROM f WHERE rn = 1
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q67: assignment reproduces the engine's literal-centroid argmax
    // (same sequential-fold cosine, ties to the smaller bucket);
    // duplicate groups via the same recursive-CTE components as q43.
    "q67_semdedup" ->
      s"""WITH RECURSIVE e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (
        |  SELECT vec_id AS centroid_id, v AS cv,
        |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS bucket
        |  FROM e WHERE vec_id % 97 = 3),
        |scored AS (
        |  SELECT e.vec_id, c.bucket,
        |    ${duckCos("e.v", "c.cv")} AS cos
        |  FROM e, c),
        |assigned AS (
        |  SELECT vec_id, bucket FROM (
        |    SELECT vec_id, bucket,
        |      row_number() OVER (PARTITION BY vec_id
        |        ORDER BY cos DESC, bucket ASC) AS rnk
        |    FROM scored) WHERE rnk = 1),
        |pairs AS (
        |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        |  FROM assigned a
        |  JOIN assigned b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |  JOIN e ea ON ea.vec_id = a.vec_id
        |  JOIN e eb ON eb.vec_id = b.vec_id
        |  WHERE ${duckCos("ea.v", "eb.v")} >= 0.82),
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |cc AS (
        |  SELECT src AS doc, src AS lbl FROM edges
        |  UNION
        |  SELECT g.dst AS doc, cc.lbl FROM cc JOIN edges g ON cc.doc = g.src),
        |labels AS (SELECT doc, min(lbl) AS cluster_id FROM cc GROUP BY 1)
        |SELECT a.vec_id, a.bucket,
        |  coalesce(l.cluster_id, a.vec_id) AS survivor_id,
        |  coalesce(l.cluster_id, a.vec_id) = a.vec_id AS is_survivor
        |FROM assigned a LEFT JOIN labels l ON a.vec_id = l.doc""".stripMargin,

    // q70: the q20 minhash/banding CTEs, restricted to (new-batch,
    // corpus) pairs — the monolithic equivalent of the incremental
    // index path.
    "q70_index_dedup" ->
      s"""$minhashBandCtes
        |cand AS (
        |  SELECT DISTINCT n.doc_id AS doc_id, c.doc_id AS dup_of,
        |    ((CASE WHEN n.mh_0=c.mh_0 THEN 1 ELSE 0 END) +
        |     (CASE WHEN n.mh_1=c.mh_1 THEN 1 ELSE 0 END) +
        |     (CASE WHEN n.mh_2=c.mh_2 THEN 1 ELSE 0 END) +
        |     (CASE WHEN n.mh_3=c.mh_3 THEN 1 ELSE 0 END) +
        |     (CASE WHEN n.mh_4=c.mh_4 THEN 1 ELSE 0 END) +
        |     (CASE WHEN n.mh_5=c.mh_5 THEN 1 ELSE 0 END) +
        |     (CASE WHEN n.mh_6=c.mh_6 THEN 1 ELSE 0 END) +
        |     (CASE WHEN n.mh_7=c.mh_7 THEN 1 ELSE 0 END)) / 8.0 AS est_jaccard
        |  FROM banded n
        |  JOIN banded c ON n.band_idx = c.band_idx AND n.band_key = c.band_key
        |  WHERE n.doc_id % 3 = 1 AND c.doc_id % 3 <> 1),
        |best AS (
        |  SELECT doc_id, dup_of, est_jaccard,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY est_jaccard DESC, dup_of ASC) AS rnk
        |  FROM cand WHERE est_jaccard >= 0.5)
        |SELECT d.doc_id, b.dup_of IS NOT NULL AS is_dup, b.dup_of,
        |  round(b.est_jaccard, 6) AS est_jaccard
        |FROM documents d
        |LEFT JOIN (SELECT * FROM best WHERE rnk = 1) b ON d.doc_id = b.doc_id
        |WHERE d.doc_id % 3 = 1""".stripMargin,

    "q72_dup_spans" ->
      s"""$toksWinsHashedCtes
        |flagged AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS cnt
        |    FROM hashed)
        |  WHERE cnt >= 2),
        |cov AS (
        |  SELECT doc_id, count(*) AS n_dup_windows,
        |    CAST(sum(CASE WHEN nxt IS NULL THEN 8
        |              ELSE least(8, nxt - pos) END) AS BIGINT) AS dup_raw
        |  FROM (SELECT doc_id, pos,
        |          lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        |        FROM flagged)
        |  GROUP BY 1)
        |SELECT t.doc_id,
        |  CAST(len(t.t) AS BIGINT) AS n_tokens,
        |  CAST(greatest(len(t.t) - 8, 0) + 1 AS BIGINT) AS n_windows,
        |  coalesce(c.n_dup_windows, 0) AS n_dup_windows,
        |  least(coalesce(c.dup_raw, 0), len(t.t)) AS dup_tokens,
        |  round(CAST(least(coalesce(c.dup_raw, 0), len(t.t)) AS DOUBLE)
        |    / len(t.t), 6) AS dup_ratio
        |FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id""".stripMargin,

    // q20's CTEs with the band-bucket cap: buckets of more than
    // maxBandSize (=2) docs are excluded from candidate generation.
    "q94_lsh_banded_cap" ->
      s"""$minhashBandCtes
        |capped AS (
        |  SELECT * FROM banded
        |  QUALIFY count(*) OVER (PARTITION BY band_idx, band_key) BETWEEN 2 AND 2),
        |cand AS (
        |$minhashEstJaccardCols
        |  FROM capped a JOIN capped b
        |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
        |    AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, est_jaccard FROM cand WHERE est_jaccard >= 0.25""".stripMargin,

    // q19's CTEs with the stop-shingle cap: shingles whose document
    // frequency exceeds maxDf (=4) generate no candidate pairs, while
    // per-doc shingle counts (the Jaccard denominators) still include
    // them — the capped Jaccard is a lower bound of the exact one.
    "q95_jaccard_maxdf" ->
      s"""$shingleCtes
        |counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |keepsh AS (
        |  SELECT shingle FROM sh GROUP BY 1
        |  HAVING count(*) > 1 AND count(*) <= 4),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  JOIN keepsh k ON a.shingle = k.shingle
        |  GROUP BY 1, 2)
        |SELECT p.doc_a, p.doc_b,
        |  round(CAST(p.n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - p.n_common), 6) AS jaccard
        |FROM pairs p
        |JOIN counts ca ON p.doc_a = ca.doc_id
        |JOIN counts cb ON p.doc_b = cb.doc_id
        |WHERE CAST(p.n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - p.n_common) >= 0.2""".stripMargin,

    // q43's component chain with the keep-longest survivor policy:
    // per-cluster argmax by (n_chars desc, doc_id asc)
    "q106_dedup_keep_longest" -> q106OracleSql,

    // q113: q72's window-hash machinery extended through the removal
    // rewrite — keep the globally-first occurrence per repeated
    // window (row_number over (doc_id, pos)), delete every other
    // occurrence's token span, string_agg the survivors in order
    "q113_dup_span_scrub" ->
      s"""$toksWinsHashedCtes
        |flagged AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos,
        |      count(*) OVER (PARTITION BY h) AS cnt,
        |      row_number() OVER (PARTITION BY h
        |        ORDER BY doc_id, pos) AS rn
        |    FROM hashed)
        |  WHERE cnt >= 2 AND rn > 1),
        |rem AS (
        |  SELECT DISTINCT doc_id, pos + i.range AS tp
        |  FROM flagged CROSS JOIN range(8) i),
        |tokpos AS (
        |  SELECT doc_id, generate_subscripts(t, 1) - 1 AS tp,
        |    unnest(t) AS tok
        |  FROM toks),
        |reb AS (
        |  SELECT k.doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(k.tok, ' ' ORDER BY k.tp) AS txt
        |  FROM tokpos k LEFT JOIN rem r
        |    ON k.doc_id = r.doc_id AND k.tp = r.tp
        |  WHERE r.doc_id IS NULL
        |  GROUP BY 1)
        |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
        |  coalesce(r.n_kept, 0) AS n_kept,
        |  CAST(len(t.t) AS BIGINT) - coalesce(r.n_kept, 0) AS n_removed,
        |  coalesce(r.txt, '') AS text_scrubbed
        |FROM toks t LEFT JOIN reb r ON t.doc_id = r.doc_id""".stripMargin,

    // q136: q43's recursive-CTE clusters + per-cluster counts; the
    // weight is exact integer division on both engines
    "q136_cluster_weights" ->
      s"""WITH RECURSIVE $dedupClusterCtes,
         |resolved AS (
         |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc),
         |sizes AS (
         |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM resolved GROUP BY 1)
         |SELECT r.doc_id, r.cluster_id, s.cluster_size,
         |  CAST(1000000 // s.cluster_size AS BIGINT) AS weight_micro
         |FROM resolved r JOIN sizes s USING (cluster_id)""".stripMargin,

    // q146: q136's cluster CTEs + the q60 portable-hash replay with
    // the id:epoch:seed key and the weight threshold
    "q146_weighted_sample" ->
      s"""WITH RECURSIVE $dedupClusterCtes,
         |resolved AS (
         |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc),
         |sizes AS (
         |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM resolved GROUP BY 1),
         |weighted AS (
         |  SELECT r.doc_id, r.cluster_id,
         |    CAST(1000000 // s.cluster_size AS BIGINT) AS weight_micro
         |  FROM resolved r JOIN sizes s USING (cluster_id)),
         |drawn AS (
         |  SELECT doc_id, cluster_id, weight_micro,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(
         |        regexp_split_to_array(doc_id || ':0:42', ''),
         |        c -> CAST(ascii(c) AS BIGINT))),
         |      (acc, c) -> (acc * 31 + c) % 1000000007)
         |      % 1000000 AS u_micro
         |  FROM weighted)
         |SELECT doc_id, cluster_id, weight_micro, u_micro
         |FROM drawn WHERE u_micro < weight_micro""".stripMargin,

    // q167: q19's exact shingle-set self-join with the integer
    // containment scores instead of Jaccard
    "q167_containment" ->
      s"""$shingleCtes
        |counts AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
        |           FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(count(*) AS BIGINT) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT p.doc_a, p.doc_b, ca.n_sh AS n_a, cb.n_sh AS n_b,
        |    p.n_common,
        |    CAST(p.n_common * 1000000 // ca.n_sh AS BIGINT)
        |      AS contain_a_micro,
        |    CAST(p.n_common * 1000000 // cb.n_sh AS BIGINT)
        |      AS contain_b_micro
        |  FROM pairs p
        |  JOIN counts ca ON p.doc_a = ca.doc_id
        |  JOIN counts cb ON p.doc_b = cb.doc_id)
        |SELECT doc_a, doc_b, n_a, n_b, n_common, contain_a_micro,
        |  contain_b_micro
        |FROM scored
        |WHERE greatest(contain_a_micro, contain_b_micro) >= 500000""".stripMargin,

    // q168: identical md5-keyed opening spans (1-based inclusive
    // clamping slice on both engines — the q126 convention)
    "q168_cross_source_dups" ->
      """WITH hs AS (
        |  SELECT DISTINCT md5(array_to_string(
        |    regexp_split_to_array(trim(text), '\s+')[1:8], ' ')) AS h,
        |    source
        |  FROM documents)
        |SELECT a.source AS source_1, b.source AS source_2,
        |  CAST(count(*) AS BIGINT) AS n_shared_openings
        |FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,

    // q170: q20's shingle-hash + affine minhash chain grouped by
    // SOURCE, then component-match counting per source pair
    "q170_source_minhash" ->
      s"""WITH toks AS (
        |  SELECT source, regexp_split_to_array(trim(text), '\\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT source, unnest(list_distinct(
        |    [array_to_string(t[i+1:i+3], ' ')
        |     for i in generate_series(0, greatest(len(t)-3, 0))])) AS shingle
        |  FROM toks),
        |hashed AS (
        |  SELECT source,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(regexp_split_to_array(shingle, ''),
        |          c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM sh),
        |sig AS (
        |  SELECT source,
        |$minhashSigCols
        |  FROM hashed GROUP BY 1)
        |SELECT a.source AS source_1, b.source AS source_2,
        |  CAST((CASE WHEN a.mh_0 = b.mh_0 THEN 1 ELSE 0 END)
        |$minhashAgreeTerms
        |    + (CASE WHEN a.mh_7 = b.mh_7 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_match,
        |  CAST(((CASE WHEN a.mh_0 = b.mh_0 THEN 1 ELSE 0 END)
        |$minhashAgreeTerms
        |    + (CASE WHEN a.mh_7 = b.mh_7 THEN 1 ELSE 0 END)) * 1000000
        |    // 8 AS BIGINT) AS est_jaccard_micro
        |FROM sig a JOIN sig b ON a.source < b.source""".stripMargin,

    // q172: q19's exact pair set + q60's split replay + the canonical
    // (least, greatest) pair grouping
    "q172_split_leakage" ->
      s"""$shingleCtes
        |counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |flt AS (
        |  SELECT p.doc_a, p.doc_b
        |  FROM pairs p
        |  JOIN counts ca ON p.doc_a = ca.doc_id
        |  JOIN counts cb ON p.doc_b = cb.doc_id
        |  WHERE CAST(p.n_common AS DOUBLE)
        |    / (ca.n_sh + cb.n_sh - p.n_common) >= 0.2),
        |h AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(doc_id || ':42', ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS hv
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id,
        |    CASE WHEN hv % 1000000 < 800000 THEN 'train'
        |         WHEN hv % 1000000 < 900000 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM h),
        |j AS (
        |  SELECT least(sa.split, sb.split) AS split_1,
        |    greatest(sa.split, sb.split) AS split_2
        |  FROM flt f
        |  JOIN sp sa ON f.doc_a = sa.doc_id
        |  JOIN sp sb ON f.doc_b = sb.doc_id)
        |SELECT split_1, split_2, CAST(count(*) AS BIGINT) AS n_pairs,
        |  split_1 <> split_2 AS leaking
        |FROM j GROUP BY 1, 2""".stripMargin,

    // q173: the q43 component closure + size-of-size counts
    "q173_dup_cluster_histogram" -> q173OracleSql,

    // q202: the q19 shingle CTE at n=8, df via grouped count (grams
    // are distinct per doc), exact integer micro share
    "q202_ngram_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(t[i+1:i+8], ' ')
        |     for i in generate_series(0, greatest(len(t)-8, 0))])) AS g
        |  FROM toks),
        |df8 AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1000000
        |    // count(*) AS BIGINT) AS novel_micro
        |FROM sh JOIN df8 USING (g) GROUP BY 1""".stripMargin,

    // q253: prefix filtering is LOSSLESS, so the oracle is q19's own
    // exact all-pairs Jaccard — the candidate scheme must reproduce it
    "q253_prefix_jaccard" ->
      s"""$jaccardPairsQuery
        |WHERE CAST(p.n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - p.n_common) >= 0.6""".stripMargin,

    // q261: the capped path is LOSSLESS on this corpus (no prefix
    // posting above maxDf=64), so the oracle is the exact Jaccard
    // self-join — identical to q253's; a divergence means the cap bit
    // where it must not
    "q261_prefix_jaccard_capped" ->
      s"""$jaccardPairsQuery
        |WHERE CAST(p.n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - p.n_common) >= 0.6""".stripMargin,

    // q274: the literal suffix sort — DuckDB orders the actual token
    // LISTS (shorter-prefix-first, exactly the sentinel order the
    // prefix-doubling ranks encode), takes adjacent full LCPs via a
    // first-difference scan, and re-counts winners by exact slice
    // equality. Algorithm-independent result: the adjacent-LCP set
    // depends only on the sorted content multiset, never on tie order
    "q274_longest_repeats" ->
      """WITH docs AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |pos AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(1, len(toks)))::BIGINT AS p
        |  FROM docs),
        |suf AS (SELECT doc_id, p - 1 AS pos, toks[p:] AS s FROM pos),
        |ord AS (SELECT doc_id, pos, s,
        |        row_number() OVER (ORDER BY s, doc_id, pos) AS rn FROM suf),
        |adj AS (
        |  SELECT a.rn AS rn, a.s AS sa, b.s AS sb,
        |         least(len(a.s), len(b.s)) AS m
        |  FROM ord a JOIN ord b ON b.rn = a.rn + 1),
        |lcpk AS (
        |  SELECT rn, m, unnest(generate_series(1, m))::BIGINT AS k, sa, sb
        |  FROM adj),
        |lcp AS (
        |  SELECT rn, any_value(sa) AS sa,
        |    CASE WHEN min(CASE WHEN sa[k] <> sb[k] THEN k END) IS NULL
        |         THEN any_value(m)
        |         ELSE min(CASE WHEN sa[k] <> sb[k] THEN k END) - 1 END AS l
        |  FROM lcpk GROUP BY rn),
        |winners AS (
        |  SELECT DISTINCT array_to_string(sa[1:l], ' ') AS repeat_text,
        |         l AS repeat_len
        |  FROM lcp WHERE l >= 12
        |  ORDER BY repeat_len DESC, repeat_text ASC LIMIT 20),
        |occ AS (
        |  SELECT w.repeat_text, w.repeat_len,
        |         CAST(count(*) AS BIGINT) AS n_occurrences,
        |         CAST(count(DISTINCT f.doc_id) AS BIGINT) AS n_docs
        |  FROM winners w JOIN suf f
        |    ON len(f.s) >= w.repeat_len
        |   AND array_to_string(f.s[1:w.repeat_len], ' ') = w.repeat_text
        |  GROUP BY w.repeat_text, w.repeat_len)
        |SELECT repeat_len, n_docs, n_occurrences, repeat_text
        |FROM occ ORDER BY repeat_len DESC, repeat_text ASC""".stripMargin,

    // q305: the winnowing selection replayed literally — the q295
    // hash chain per 3-gram, 3 lags/leads per doc, the nested
    // run-length CASEs, the local feasibility test, df cap, pair join
    "q305_winnow_pairs" ->
      s"""$winnowPairsQuery
        |GROUP BY 1, 2""".stripMargin,

    // q311: the q305 monolithic replay restricted to pairs touching
    // the %3 = 1 batch — the full index (all three slices) feeds the
    // df cap, exactly like the incremental path reading the
    // just-appended SnapshotTable
    "q311_winnow_incremental" ->
      s"""$winnowPairsQuery
        |WHERE a.doc_id % 3 = 1 OR b.doc_id % 3 = 1
        |GROUP BY 1, 2""".stripMargin,

    // q302: the same gram-frequency marking replayed literally — dup
    // 12-gram starts, an 11-PRECEDING window max turning starts into
    // covered tokens, and an ordered FILTER list rebuild per doc
    "q302_exact_substr_dedup" ->
      s"""WITH docs AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS s,
        |    array_to_string(toks[i+1:i+12], ' ') AS g
        |  FROM docs, unnest(generate_series(0, len(toks) - 12)) AS u(i)),
        |dupg AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
        |starts AS (
        |  SELECT DISTINCT doc_id, s FROM grams JOIN dupg USING (g)),
        |pos AS (
        |  SELECT doc_id, toks[CAST(p AS INT)] AS tok, p
        |  FROM (SELECT doc_id, toks,
        |          unnest(generate_series(1, len(toks)))::BIGINT AS p
        |        FROM docs)),
        |flag AS (
        |  SELECT p.doc_id, p.p, p.tok,
        |    CASE WHEN st.s IS NOT NULL THEN 1 END AS ds
        |  FROM pos p LEFT JOIN starts st
        |    ON st.doc_id = p.doc_id AND st.s = p.p - 1),
        |cov AS (
        |  SELECT doc_id, p, tok,
        |    max(ds) OVER (PARTITION BY doc_id ORDER BY p
        |      ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS c
        |  FROM flag),
        |$rebTail
        |FROM docs d LEFT JOIN reb r USING (doc_id)""".stripMargin,

    // q326: the q25 cosine fold against the eval slice, per-train-doc
    // argmax (max cosine, ties to the LOWEST eval id), threshold on
    // the unrounded value
    "q326_semantic_decontam" ->
      s"""$semanticDecontamQuery""".stripMargin,

    // q330: the Spark side folds two per-version deltas over the
    // persisted embedding index; max-associativity makes the fold
    // exact, so the oracle IS the monolithic q326 replay verbatim
"q330_semantic_decontam_incremental" ->
      s"""$semanticDecontamQuery""".stripMargin,

    // q331: the IVF exact face (nProbe=0) scores every (train, eval)
    // pair exactly once — identical pair set, identical per-pair
    // expression, identical fold — so its oracle IS q326's replayed
    // verbatim; bucketing is a physical re-arrangement the relational
    // semantics never see
    "q331_semantic_decontam_ivf" ->
      s"""$semanticDecontamQuery""".stripMargin,

    // q279: the same staged attack (every 20th doc homoglyph-spoofed,
    // chr(8203) = the zero-width space) + the same skeleton pipeline —
    // DuckDB nfc_normalize + RE2 invisibles strip + lower + translate,
    // then the char-fold hash over the skeleton
    "q279_skeleton_dups" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |spoof AS (
        |  SELECT doc_id + 10000000 AS doc_id,
        |    substr(text, 1, 1) || chr(8203) ||
        |      translate(substr(text, 2), 'aeo', 'аео') AS text
        |  FROM base WHERE doc_id % 20 = 0),
        |alldocs AS (
        |  SELECT * FROM base UNION ALL SELECT * FROM spoof),
        |sk AS (
        |  SELECT doc_id, text AS raw,
        |    translate(lower(regexp_replace(nfc_normalize(text),
        |      '[\x{200B}\x{200C}\x{200D}\x{FEFF}\x{00AD}]', '', 'g')),
        |      'аеорсхуіѕјοαν', 'aeopcxyisjoav') AS sk
        |  FROM alldocs),
        |g AS (
        |  SELECT sk, CAST(min(doc_id) AS BIGINT) AS survivor_id,
        |    CAST(count(*) AS BIGINT) AS n_members,
        |    CAST(count(DISTINCT raw) AS BIGINT) AS n_variants
        |  FROM sk GROUP BY sk HAVING count(*) >= 2)
        |SELECT survivor_id, n_members, n_variants,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(regexp_split_to_array(sk, ''),
        |      c -> CAST(ascii(c) AS BIGINT))),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) AS skeleton_hash
        |FROM g""".stripMargin,

    // q281: the same staged perturbation, then FILTER-FREE brute force
    // — every pair inside the |Δlen| ≤ k length bound (implied by
    // ed ≤ k, pure pruning) gets a real levenshtein, so the oracle is
    // algorithm-independent and the prefix filter's losslessness is
    // what the gate checks
    "q281_edit_neardup" ->
      """WITH d AS (
        |  SELECT doc_id, lower(substr(trim(text), 1, 40)) AS key
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id + 10000000 AS doc_id,
        |    substr(key, 1, 3) || 'zq' || substr(key, 6) AS key
        |  FROM d WHERE doc_id % 10 = 0),
        |a AS (SELECT * FROM d UNION ALL SELECT * FROM sp),
        |pairs AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        |    levenshtein(x.key, y.key) AS ed
        |  FROM a x JOIN a y ON x.doc_id < y.doc_id
        |    AND abs(length(x.key) - length(y.key)) <= 2)
        |SELECT id_a, id_b, CAST(ed AS BIGINT) AS ed
        |FROM pairs WHERE ed <= 2""".stripMargin,

    // q296: the five greedy steps unrolled — per-step gains over the
    // pair table anti-joined against the growing covered pool,
    // argmax by (gain desc, source)
    "q296_set_cover" ->
      """WITH toks AS (
        |  SELECT source, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |pe AS (
        |  SELECT DISTINCT source AS s,
        |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS e
        |  FROM toks, unnest(range(1, len(t) - 1)) AS u(i)),
        |s1 AS (SELECT s, CAST(count(*) AS BIGINT) AS gain FROM pe
        |  GROUP BY s ORDER BY gain DESC, s LIMIT 1),
        |c1 AS (SELECT DISTINCT e FROM pe WHERE s = (SELECT s FROM s1)),
        |s2 AS (SELECT s, CAST(count(*) AS BIGINT) AS gain FROM pe
        |  WHERE e NOT IN (SELECT e FROM c1)
        |  GROUP BY s ORDER BY gain DESC, s LIMIT 1),
        |c2 AS (SELECT e FROM c1 UNION
        |  SELECT e FROM pe WHERE s = (SELECT s FROM s2)),
        |s3 AS (SELECT s, CAST(count(*) AS BIGINT) AS gain FROM pe
        |  WHERE e NOT IN (SELECT e FROM c2)
        |  GROUP BY s ORDER BY gain DESC, s LIMIT 1),
        |c3 AS (SELECT e FROM c2 UNION
        |  SELECT e FROM pe WHERE s = (SELECT s FROM s3)),
        |s4 AS (SELECT s, CAST(count(*) AS BIGINT) AS gain FROM pe
        |  WHERE e NOT IN (SELECT e FROM c3)
        |  GROUP BY s ORDER BY gain DESC, s LIMIT 1),
        |c4 AS (SELECT e FROM c3 UNION
        |  SELECT e FROM pe WHERE s = (SELECT s FROM s4)),
        |s5 AS (SELECT s, CAST(count(*) AS BIGINT) AS gain FROM pe
        |  WHERE e NOT IN (SELECT e FROM c4)
        |  GROUP BY s ORDER BY gain DESC, s LIMIT 1),
        |c5 AS (SELECT e FROM c4 UNION
        |  SELECT e FROM pe WHERE s = (SELECT s FROM s5))
        |SELECT CAST(1 AS BIGINT) AS step, s AS picked,
        |  gain AS new_elements,
        |  (SELECT CAST(count(*) AS BIGINT) FROM c1) AS covered_total
        |FROM s1
        |UNION ALL SELECT 2, s, gain,
        |  (SELECT count(*) FROM c2) FROM s2
        |UNION ALL SELECT 3, s, gain,
        |  (SELECT count(*) FROM c3) FROM s3
        |UNION ALL SELECT 4, s, gain,
        |  (SELECT count(*) FROM c4) FROM s4
        |UNION ALL SELECT 5, s, gain,
        |  (SELECT count(*) FROM c5) FROM s5""".stripMargin
  )

  /** The exact-Jaccard near-dup component chain as CTE-list text
    * (shingles → thresholded pairs → recursive connected components →
    * min-label `labels`): q43 takes the min-id survivor directly;
    * q106 re-resolves survivors by the keep-longest policy over the
    * same components.
    */
  private lazy val dedupClusterCtes: String =
    s"""toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [array_to_string(t[i+1:i+3], ' ')
      |     for i in generate_series(0, greatest(len(t)-3, 0))])) AS shingle
      |  FROM toks),
      |$jaccardComponentCtes
      |labels AS (SELECT doc, min(lbl) AS cluster_id FROM cc GROUP BY 1)""".stripMargin

  private lazy val q43OracleSql: String =
    s"""WITH RECURSIVE $dedupClusterCtes
       |SELECT d.doc_id,
       |  coalesce(l.cluster_id, d.doc_id) AS survivor_id,
       |  coalesce(l.cluster_id, d.doc_id) = d.doc_id AS is_survivor
       |FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc""".stripMargin

  /** q173's oracle: the q43 component closure aggregated to the
    * cluster-size histogram.
    */
  private lazy val q173OracleSql: String =
    s"""WITH RECURSIVE $dedupClusterCtes,
       |members AS (
       |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cid
       |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc),
       |sizes AS (
       |  SELECT cid, CAST(count(*) AS BIGINT) AS cluster_size
       |  FROM members GROUP BY 1)
       |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
       |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs
       |FROM sizes GROUP BY 1""".stripMargin

  /** q106's oracle: the same components, survivor = argmax by
    * (n_chars desc, doc_id asc) per cluster.
    */
  private lazy val q106OracleSql: String =
    s"""WITH RECURSIVE $dedupClusterCtes,
       |members AS (
       |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cid, d.n_chars
       |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc),
       |best AS (
       |  SELECT cid, doc_id AS survivor_id FROM (
       |    SELECT cid, doc_id, row_number() OVER (PARTITION BY cid
       |      ORDER BY n_chars DESC, doc_id ASC) AS rk
       |    FROM members)
       |  WHERE rk = 1)
       |SELECT m.doc_id, b.survivor_id, b.survivor_id = m.doc_id AS is_survivor
       |FROM members m JOIN best b ON m.cid = b.cid""".stripMargin

  /** CTEs `hashed`, `sig`, `banded` shared by the q20, q70 and q94 oracles. */
  private lazy val minhashBandCtes: String =
    s"""$shingleCtes
      |hashed AS (
      |  SELECT doc_id,
      |    list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        list_transform(regexp_split_to_array(shingle, ''),
      |          c -> CAST(ascii(c) AS BIGINT))),
      |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
      |  FROM sh),
      |sig AS (
      |  SELECT doc_id,
      |$minhashSigCols
      |  FROM hashed GROUP BY 1),
      |banded AS (
      |  SELECT doc_id, band_idx,
      |    CASE band_idx
      |      WHEN 0 THEN md5(mh_0 || '|' || mh_1) WHEN 1 THEN md5(mh_2 || '|' || mh_3)
      |      WHEN 2 THEN md5(mh_4 || '|' || mh_5) ELSE md5(mh_6 || '|' || mh_7)
      |    END AS band_key,
      |    mh_0, mh_1, mh_2, mh_3, mh_4, mh_5, mh_6, mh_7
      |  FROM sig, (SELECT unnest(generate_series(0, 3)) AS band_idx)),""".stripMargin

  /** CTEs `e`, `scored`, `best` and the final SELECT shared by the q326,
    * q330 and q331 oracles.
    */
  private lazy val semanticDecontamQuery: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |scored AS (
      |  SELECT t.vec_id, ev.vec_id AS e_id,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      [t.v[i+1] * ev.v[i+1]
      |       for i in generate_series(0, len(t.v)-1)]),
      |      (acc, x) -> acc + x)
      |    / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |         [t.v[i+1] * t.v[i+1]
      |          for i in generate_series(0, len(t.v)-1)]),
      |         (acc, x) -> acc + x))
      |     * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |         [ev.v[i+1] * ev.v[i+1]
      |          for i in generate_series(0, len(ev.v)-1)]),
      |         (acc, x) -> acc + x))) AS cos
      |  FROM e t, e ev
      |  WHERE t.vec_id % 10 <> 0 AND ev.vec_id % 10 = 0),
      |best AS (
      |  SELECT vec_id, cos, e_id,
      |    row_number() OVER (PARTITION BY vec_id
      |      ORDER BY round(cos, 6) DESC, e_id ASC) AS rn,
      |    max(cos) OVER (PARTITION BY vec_id) AS mx
      |  FROM scored)
      |SELECT vec_id, round(cos, 6) AS max_cosine,
      |  e_id AS nearest_eval_id, mx >= 0.42 AS contaminated
      |FROM best WHERE rn = 1""".stripMargin

  /** CTEs `docs`, `eligible`, `grams`, `h0`, `h1`, `h2`, `hs`, `laid`,
    * `runs`, `sel`, `capped` and the final SELECT shared by the q305 and
    * q311 oracles.
    */
  private lazy val winnowPairsQuery: String =
    """WITH docs AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |eligible AS (SELECT * FROM docs WHERE len(toks) >= 6),
      |grams AS (
      |  SELECT doc_id, CAST(len(toks) - 2 AS BIGINT) AS mg,
      |    CAST(i AS BIGINT) AS pos,
      |    array_to_string(toks[i+1:i+3], ' ') AS g
      |  FROM eligible, unnest(generate_series(0, len(toks) - 3)) AS u(i)),
      |h0 AS (
      |  SELECT doc_id, mg, pos,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(regexp_split_to_array(g, ''),
      |        c -> CAST(ascii(c) AS BIGINT))),
      |      (acc, c) -> (acc * 31 + c) % 1000000007) AS r
      |  FROM grams),
      |h1 AS (SELECT *, (xor(r, r // 65536) * 73244475) % 4294967296
      |  AS v1 FROM h0),
      |h2 AS (SELECT *, (xor(v1, v1 // 65536) * 73244475) % 4294967296
      |  AS v2 FROM h1),
      |hs AS (SELECT doc_id, mg, pos,
      |    xor(v2, v2 // 65536) % 1000000000 AS h FROM h2),
      |laid AS (
      |  SELECT doc_id, mg, pos, h,
      |    lag(h, 1) OVER wd AS lg1, lag(h, 2) OVER wd AS lg2,
      |    lag(h, 3) OVER wd AS lg3,
      |    lead(h, 1) OVER wd AS ld1, lead(h, 2) OVER wd AS ld2,
      |    lead(h, 3) OVER wd AS ld3
      |  FROM hs WINDOW wd AS (PARTITION BY doc_id ORDER BY pos)),
      |runs AS (
      |  SELECT doc_id, mg, pos, h,
      |    CASE WHEN lg1 IS NOT NULL AND lg1 >= h THEN
      |      CASE WHEN lg2 IS NOT NULL AND lg2 >= h THEN
      |        CASE WHEN lg3 IS NOT NULL AND lg3 >= h THEN 3 ELSE 2 END
      |      ELSE 1 END ELSE 0 END AS lrun,
      |    CASE WHEN ld1 IS NOT NULL AND ld1 > h THEN
      |      CASE WHEN ld2 IS NOT NULL AND ld2 > h THEN
      |        CASE WHEN ld3 IS NOT NULL AND ld3 > h THEN 3 ELSE 2 END
      |      ELSE 1 END ELSE 0 END AS rrun
      |  FROM laid),
      |sel AS (
      |  SELECT DISTINCT doc_id, h AS fpv
      |  FROM runs
      |  WHERE least(lrun, pos) + least(rrun, mg - 1 - pos) >= 3),
      |capped AS (
      |  SELECT doc_id, fpv FROM (
      |    SELECT doc_id, fpv, count(*) OVER (PARTITION BY fpv) AS df
      |    FROM sel) WHERE df <= 64)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(count(DISTINCT a.fpv) AS BIGINT) AS n_shared
      |FROM capped a JOIN capped b
      |  ON a.fpv = b.fpv AND a.doc_id < b.doc_id""".stripMargin

  /** CTEs `toks`, `sh` shared by the q19, q20, q70, q94, q95, q167, q172,
    * q253 and q261 oracles.
    */
  private lazy val shingleCtes: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [array_to_string(t[i+1:i+3], ' ')
      |     for i in generate_series(0, greatest(len(t)-3, 0))])) AS shingle
      |  FROM toks),""".stripMargin

  /** CTEs `docs`, `grams`, `evg`, `starts`, `pos`, `flag`, `cov` and the
    * final SELECT shared by the q318 and q320 oracles.
    */
  private lazy val spanScrubQuery: String =
    s"""WITH docs AS (
      |  SELECT doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS s,
      |    array_to_string(toks[i+1:i+5], ' ') AS g
      |  FROM docs, unnest(generate_series(0, len(toks) - 5)) AS u(i)),
      |evg AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 0),
      |starts AS (
      |  SELECT DISTINCT doc_id, s FROM grams JOIN evg USING (g)
      |  WHERE doc_id % 10 <> 0),
      |pos AS (
      |  SELECT doc_id, toks[CAST(p AS INT)] AS tok, p
      |  FROM (SELECT doc_id, toks,
      |          unnest(generate_series(1, len(toks)))::BIGINT AS p
      |        FROM docs WHERE doc_id % 10 <> 0)),
      |flag AS (
      |  SELECT p.doc_id, p.p, p.tok,
      |    CASE WHEN st.s IS NOT NULL THEN 1 END AS ds
      |  FROM pos p LEFT JOIN starts st
      |    ON st.doc_id = p.doc_id AND st.s = p.p - 1),
      |cov AS (
      |  SELECT doc_id, p, tok,
      |    max(ds) OVER (PARTITION BY doc_id ORDER BY p
      |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS c
      |  FROM flag),
      |$rebTail
      |FROM (SELECT doc_id FROM docs WHERE doc_id % 10 <> 0) d
      |LEFT JOIN reb r USING (doc_id)""".stripMargin

  /** CTEs `counts`, `pairs` and the final SELECT shared by the q19, q253
    * and q261 oracles.
    */
  private lazy val jaccardPairsQuery: String =
    s"""$shingleCtes
      |counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT p.doc_a, p.doc_b,
      |  round(CAST(p.n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - p.n_common), 6) AS jaccard
      |FROM pairs p
      |JOIN counts ca ON p.doc_a = ca.doc_id
      |JOIN counts cb ON p.doc_b = cb.doc_id""".stripMargin

  /** CTEs `toks`, `wins`, `hashed` shared by the q72 and q113 oracles. */
  private lazy val toksWinsHashedCtes: String =
    s"""WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      |  FROM documents),
      |wins AS (
      |  SELECT doc_id, generate_subscripts(ws, 1) - 1 AS pos,
      |    unnest(ws) AS win
      |  FROM (SELECT doc_id,
      |          [array_to_string(t[i+1:i+8], ' ')
      |           for i in generate_series(0, greatest(len(t)-8, 0))] AS ws
      |        FROM toks)),
      |hashed AS (
      |$windowHashCols
      |  FROM wins),""".stripMargin

  /** CTE `hits` and the final SELECT shared by the q52 and q319 oracles. */
  private lazy val contamHitsQuery: String =
    s"""$evalShingleCtes
      |hits AS (
      |  SELECT s.doc_id, count(*) AS n_hits
      |  FROM sh s JOIN ev USING (shingle)
      |  WHERE s.doc_id % 10 <> 0 GROUP BY 1)
      |SELECT d.doc_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
      |  coalesce(h.n_hits, 0) >= 1 AS contaminated
      |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
      |WHERE d.doc_id % 10 <> 0""".stripMargin

  /** CTE `reb` and the final SELECT shared by the q302, q318 and q320
    * oracles.
    */
  private lazy val rebTail: String =
    """reb AS (
      |  SELECT doc_id,
      |    CAST(count(*) AS BIGINT) AS n_tokens,
      |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_removed,
      |    coalesce(array_to_string(
      |      list(tok ORDER BY p) FILTER (WHERE c IS NULL), ' '), '')
      |      AS clean_text
      |  FROM cov GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(r.clean_text, '') AS clean_text,
      |  CAST(coalesce(r.n_tokens, 0) AS BIGINT) AS n_tokens,
      |  CAST(coalesce(r.n_removed, 0) AS BIGINT) AS n_removed""".stripMargin

  /** CTEs `toks`, `sh`, `ev` shared by the q52, q315 and q319 oracles. */
  private lazy val evalShingleCtes: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [array_to_string(t[i+1:i+5], ' ')
      |     for i in generate_series(0, greatest(len(t)-5, 0))])) AS shingle
      |  FROM toks),
      |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0),""".stripMargin

  /** Column expressions shared by the q20 and q94 oracles. */
  private lazy val minhashEstJaccardCols: String =
    """  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    ((CASE WHEN a.mh_0=b.mh_0 THEN 1 ELSE 0 END) +
      |     (CASE WHEN a.mh_1=b.mh_1 THEN 1 ELSE 0 END) +
      |     (CASE WHEN a.mh_2=b.mh_2 THEN 1 ELSE 0 END) +
      |     (CASE WHEN a.mh_3=b.mh_3 THEN 1 ELSE 0 END) +
      |     (CASE WHEN a.mh_4=b.mh_4 THEN 1 ELSE 0 END) +
      |     (CASE WHEN a.mh_5=b.mh_5 THEN 1 ELSE 0 END) +
      |     (CASE WHEN a.mh_6=b.mh_6 THEN 1 ELSE 0 END) +
      |     (CASE WHEN a.mh_7=b.mh_7 THEN 1 ELSE 0 END)) / 8.0 AS est_jaccard""".stripMargin

  /** Column expressions shared by the q20, q70, q94 and q170 oracles. */
  private lazy val minhashSigCols: String =
    """    min((h*1299721 + 15485863) % 1000000007) AS mh_0,
      |    min((h*1299743 + 15485867) % 1000000007) AS mh_1,
      |    min((h*1299763 + 15485917) % 1000000007) AS mh_2,
      |    min((h*1299791 + 15485927) % 1000000007) AS mh_3,
      |    min((h*1299811 + 15485933) % 1000000007) AS mh_4,
      |    min((h*1299817 + 15485941) % 1000000007) AS mh_5,
      |    min((h*1299821 + 15485959) % 1000000007) AS mh_6,
      |    min((h*1299827 + 15485989) % 1000000007) AS mh_7""".stripMargin

  /** Column expressions repeated in the q170 oracle. */
  private lazy val minhashAgreeTerms: String =
    """    + (CASE WHEN a.mh_1 = b.mh_1 THEN 1 ELSE 0 END)
      |    + (CASE WHEN a.mh_2 = b.mh_2 THEN 1 ELSE 0 END)
      |    + (CASE WHEN a.mh_3 = b.mh_3 THEN 1 ELSE 0 END)
      |    + (CASE WHEN a.mh_4 = b.mh_4 THEN 1 ELSE 0 END)
      |    + (CASE WHEN a.mh_5 = b.mh_5 THEN 1 ELSE 0 END)
      |    + (CASE WHEN a.mh_6 = b.mh_6 THEN 1 ELSE 0 END)""".stripMargin
}
