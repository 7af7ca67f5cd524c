package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import Shared._

/** Queries, each with its DuckDB oracle, for tokenization and sequence
  * packing: BPE, WordPiece and unigram encoders, token budgets, and packed
  * fixed-length training sequences.
  */
private[graft] object TokenizePackQueries extends QueryDomain {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // sequence packing, the map stage: global token prefix sum
    // (two-phase, never a one-partition window) placing every doc's
    // token interval, then the (doc, sequence)-intersection slices at
    // L=512. The artifact a 100 TB run persists for shard assembly.
    "q74_pack_map" -> ((s, dir) => {
      graft.core.Packing.packCompositions(
        Tables.documents(s, dir), "doc_id", "text", seqLen = 512)
    }),

    // sequence packing, assembled: fixed-length training sequences
    // with doc counts — documents span boundaries, short docs share
    // windows, the corpus tail window is visibly short.
    // the packing map's trainer sidecar: per-sequence ordered doc
    // boundaries as a canonical off:doc:len string — what a dataloader
    // turns into block-diagonal attention masks
    "q110_pack_boundaries" -> ((s, dir) => {
      graft.core.Packing.packBoundaries(
        Tables.documents(s, dir), "doc_id", "text", seqLen = 512)
    }),

    "q75_pack_seqs" -> ((s, dir) => {
      graft.core.Packing.packSequences(
        Tables.documents(s, dir), "doc_id", "text", seqLen = 512)
    }),

    // in-engine BPE: train 100 merges from the distributed
    // word-frequency dict (driver solves the bounded dict problem,
    // never the corpus), then distributed encode with memoized
    // greedy rank merges. The projection is the corpus-trained merge
    // list, now under a FULL oracle: q78OracleSql replays the entire
    // iterated argmax-rewrite loop as a DuckDB recursive CTE (the
    // aggregate-over-recursive-reference form DuckDB permits), so
    // every one of the 100 steps — pair count, tie-break, rewrite —
    // is hash-pinned on corpus data. BpeSpec additionally pins the
    // published worked example, an independent reference
    // implementation, reconstruction, and partition invariance; dict
    // q82, encode q85, fertility q92 cover the rest of the machinery.
    "q78_bpe_merges" -> ((s, dir) => {
      val model = Bpe.train(Tables.documents(s, dir), "text", numMerges = 100)
      import s.implicits._
      model.merges.zipWithIndex
        .map { case ((a, b), r) => (r.toLong, a, b) }
        .toDF("merge_rank", "lhs", "rhs")
    }),

    // packing under a different cost model: placement by CHARACTER
    // budget (embedding-model chunking shape) — same two-phase prefix
    // sum, weight column instead of tokenization
    "q79_pack_by_cost" -> ((s, dir) => {
      Packing.packCompositionsBy(
        Tables.documents(s, dir)
          .select(col("doc_id"), col("n_chars").cast("long").as("n_tokens")),
        "doc_id", seqLen = 4096)
    }),

    // the full training-data pipeline in one query: curate (5-stage
    // gates) -> survivors -> BPE train + id-encode on the CURATED
    // corpus -> packed fixed-length TOKEN-ID sequences — the exact
    // artifact a trainer loads. FULL oracle since r8 (q80OracleSql):
    // the whole composition replays as one DuckDB statement and the
    // packed id arrays hash-compare via a portable md5 digest.
    // encode boundary MATERIALIZED (written SnapshotTable, read by
    // both packing consumers): measured 10.3s vs 14.5s for the
    // re-run-encode form under the bench methodology, 11.6s vs 18.8s
    // cold-cache (see PLANS.md "q80 encode boundary") — and it is the
    // only shape that works when encode output exceeds memory, so the
    // gate runs the same code path production would.
    "q80_corpus_to_sequences" -> ((s, dir) => corpusToSequences(s, dir,
      encodeTable = Some(scratchDir("graft_q80enc") + "/enc"))),

    // packing meets the table format, oracle-checked end-to-end:
    // pack -> writeShards (range-clustered snapshot commit) -> a
    // trainer's shard fetch (stat-pruned seq_id range read). The
    // oracle recomputes the same window slice relationally — so the
    // whole materialize-and-refetch loop, table format included, must
    // reproduce the declarative answer.
    "q83_pack_shards" -> ((s, dir) => {
      import graft.sources.SnapshotTable
      val seqs = Packing.packSequences(
        Tables.documents(s, dir), "doc_id", "text", seqLen = 512)
      val table = scratchDir("graft_q83") + "/seqs"
      Packing.writeShards(seqs, table, shards = 8)
      SnapshotTable.read(s, table, prune = Seq(
          SnapshotTable.ColRange("seq_id", upper = Some(3L))))
        .filter(col("seq_id") <= 3)
    }),

    // the deterministic prefix of the BPE pipeline (q78's discipline
    // match for q49/q50): the distributed word-frequency dictionary
    // the trainer consumes, min-frequency filtered
    "q82_bpe_dict" -> ((s, dir) => {
      Bpe.wordCounts(Tables.documents(s, dir), "text")
        .filter(col("cnt") >= 2)
    }),

    // deterministic per-epoch shuffle keys: different permutation
    // each epoch, each exactly reproducible and partitioning/engine
    // independent (what orderBy(rand) is not). Keys pin the
    // permutation; materializing it is one range exchange.
    "q81_epoch_shuffle" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Sampling.epochShuffle(docs, "doc_id", epoch = 0)
        .select(col("doc_id"), col("shuffle_key").as("key_epoch0"))
        .join(Sampling.epochShuffle(docs, "doc_id", epoch = 1)
          .select(col("doc_id"), col("shuffle_key").as("key_epoch1")),
          Seq("doc_id"))
    }),

    // BPE ENCODE under a full oracle: the merge LOOP (training) is the
    // only non-SQL-expressible part of BPE, so pin a fixed
    // library-constant model (trained once over an embedded dictionary
    // — a model is a parameter of encode exactly as PQ codebooks are
    // of q56/q57) and the greedy rank-merge ENCODE itself becomes
    // oracle-checkable: the DuckDB side replays best-rank selection +
    // leftmost-non-overlapping merge-all as a recursive CTE over the
    // literal merge table, per distinct word, reassembled per doc.
    // (q78 keeps the corpus-trained model rows-only; q82 oracles its
    // dict; BpeSpec pins its loop.)
    "q85_bpe_encode_fixed" -> ((s, dir) => {
      Bpe.encode(Tables.documents(s, dir), "doc_id", "text", FixedBpeModel)
        .select(col("doc_id"), col("n_words"), col("n_pieces"),
          concat_ws(" ", col("pieces")).as("encoded"))
    }),

    // Tokenizer FERTILITY by source (tokens/word, chars/token — the
    // standard tokenizer-eval metrics from the multilingual-LM
    // literature): q85's fixed-model encode aggregated per source.
    // Integer sums are exact, the two ratios divide them once at the
    // end — fully oracle-checkable through the same recursive-CTE
    // encode replay q85 pins.
    "q92_tokenizer_fertility" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Bpe.encode(docs, "doc_id", "text", FixedBpeModel)
        .join(docs.select(col("doc_id"), col("source"), col("n_chars")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum("n_words").cast("long").as("total_words"),
          sum("n_pieces").cast("long").as("total_pieces"),
          sum("n_chars").cast("long").as("total_chars"))
        .select(col("source"), col("n_docs"),
          col("total_words"), col("total_pieces"),
          round(col("total_pieces").cast("double") / col("total_words"), 6)
            .as("fertility"),
          round(col("total_chars").cast("double") / col("total_pieces"), 6)
            .as("chars_per_piece"))
    }),

    // The STREAMING sequence packer under a full oracle: deterministic
    // per-doc token ids (pure arithmetic — packing, not BPE, is under
    // test) run through TWO PackStream.packBatch calls into a real
    // snapshot table (batch boundary at the id midpoint), sequences
    // read back from the table. The DuckDB oracle replays the
    // concatenated packing relationally and drops the trailing
    // partial — which the stream holds as its tail by design — so
    // batch-boundary continuation, the tail carry, and the idempotent
    // table commits are all hash-pinned end-to-end.
    "q93_stream_pack" -> ((s, dir) => {
      val L = 64
      val docs = Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("piece_ids",
          transform(sequence(lit(0), (col("doc_id") % 5 + 2).cast("int")),
            j => col("doc_id") * 10 + j))
      val mid = docs.agg(max("doc_id")).head().getLong(0) / 2
      val table = scratchDir("q93_stream_pack") + "/t"
      graft.streaming.PackStream.packBatch(
        docs.filter(col("doc_id") <= mid), table, L, 0L)
      graft.streaming.PackStream.packBatch(
        docs.filter(col("doc_id") > mid), table, L, 1L)
      graft.streaming.PackStream.sequences(s, table)
        .select(col("seq_id"), col("n_docs"), col("n_tokens"),
          concat_ws(",", col("token_ids")).as("ids_str"))
    }),

    // The BPE trainer's FIRST merge step under a full oracle: the
    // first-round pair-count table (top 50 by the trainer's exact
    // tie-break: count desc, pair lexicographic) computed
    // relationally, with `is_first_merge` pinning the DRIVER LOOP's
    // argmax ([[Bpe.train]] with numMerges=1, embedded as a literal)
    // against the relational rank-1 row — if the loop's pair-count or
    // tie-break ever diverged from the declared semantics, the hashes
    // diverge. This is the oracle-expressible prefix of the q78 loop.
    "q96_bpe_first_merge" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val dict = Bpe.wordCounts(Tables.documents(s, dir), "text")
        .filter(col("cnt") >= 2)
      val sym = dict.select(
        concat(split(col("word"), ""), array(lit(Bpe.EndOfWord))).as("s"),
        col("cnt"))
      val counts = sym.select(explode(zip_with(
          slice(col("s"), lit(1), size(col("s")) - 1),
          slice(col("s"), lit(2), size(col("s")) - 1),
          (a, b) => struct(a.as("a"), b.as("b")))).as("p"), col("cnt"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("cnt").as("c"))
      val first = Bpe.train(Tables.documents(s, dir), "text",
        numMerges = 1).merges.head
      // global window over the top-50 only (bounded by the limit)
      counts.orderBy(col("c").desc, col("a"), col("b")).limit(50)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("c").desc, col("a"), col("b"))).cast("long"))
        .select(col("rank"), col("a"), col("b"), col("c"),
          (col("a") === lit(first._1) && col("b") === lit(first._2))
            .as("is_first_merge"))
    }),

    // global token-budget selection: the best 20k tokens by
    // alpha-density priority (exact fixed-point integers), cumulative
    // count via the two-phase prefix sum under the priority order
    "q107_token_budget" -> ((s, dir) => {
      val counted = Tables.documents(s, dir).select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"),
        expr("CAST(length(regexp_replace(text, '[^a-zA-Z]', '')) * 1000000" +
          " AS BIGINT) DIV greatest(length(text), 1)").as("alpha_micro"))
      Sampling.tokenBudgetSelect(counted, "doc_id", "alpha_micro",
        budget = 20000L)
    }),

    // length-grouped (dynamic) batching: bucket docs by token length,
    // longest-first within bucket, fixed-size batches — the padded-
    // loader counterpart of packing; per-batch pad-token accounting.
    // Exact integers under a total order; the two-phase global rank
    // replaces the skewed per-bucket window at scale
    "q121_length_batching" -> ((s, dir) => {
      val counted = Tables.documents(s, dir).select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      val assign = graft.core.Packing.lengthBatches(
        counted, "doc_id", "n_tokens", bucketWidth = 64L, batchSize = 32)
      graft.core.Packing.batchPadding(assign)
        .select(col("bucket"), col("batch"), col("n_docs"),
          col("max_len"), col("sum_len"), col("pad_waste"))
    }),

    // WordPiece greedy longest-match encode against the fixed vocab
    // (the second tokenizer family next to BPE: segment top-down vs
    // replay merges bottom-up); the oracle pre-resolves the longest
    // match per (word, pos) relationally and replays the greedy walk
    // as a recursive CTE over those jumps — full segmentation pinned,
    // not just counts
    "q124_wordpiece_encode" -> ((s, dir) => {
      graft.core.Wordpiece.encode(
          Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("n_words"), col("n_pieces"),
          col("n_unk"), col("text_pieces"))
    }),

    // sliding token-window chunking (RAG/embedding prep): 64-token
    // windows advancing by 48 (16-token overlap), provenance offsets
    // kept; fully declarative sequence->explode->slice
    "q126_chunk_windows" -> ((s, dir) => {
      TextAnalysis.chunkByTokens(Tables.documents(s, dir),
          "doc_id", "text", size = 64, overlap = 16)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
          col("n_chunk_tokens"), col("chunk_text"))
    }),

    // T5-style span corruption: hash-seeded union-coverage spans,
    // contiguous masked runs replaced by per-doc <Xk> sentinels —
    // the corruption is a pure function of the data (portable
    // rolling hash of "id:pos"), so the oracle replays every mask
    "q127_span_corrupt" -> ((s, dir) => {
      TextAnalysis.spanCorrupt(Tables.documents(s, dir),
          "doc_id", "text", startPermille = 50, minSpan = 2,
          spanChoices = 3)
        .select(col("doc_id"), col("n_tokens"), col("n_masked"),
          col("n_spans"), col("corrupted_text"))
    }),

    // THIRD tokenizer family: unigram-LM (SentencePiece-style)
    // Viterbi-optimal segmentation under fixed integer piece scores —
    // exact BIGINT optimization, so the global argmax (which DISAGREES
    // with greedy longest-match on this corpus: "customer" ->
    // cust+omer, not custom+er) is engine-exact
    "q133_unigram_encode" -> ((s, dir) => {
      graft.core.Unigram.encode(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("n_words"), col("n_pieces"),
          col("score_total"), col("text_pieces"))
    }),

    // SFT packing with loss masks: chat-template render -> prompt/
    // response token geometry -> fixed 128-token sequences via the
    // two-phase prefix sum, each slice carrying its trained sub-span
    // in in-sequence coordinates (loss_off -1 = prompt-only slice)
    "q135_sft_pack_masks" -> ((s, dir) => {
      graft.core.SftFormat.packedLossMasks(
        Tables.documents(s, dir), "doc_id", "text", seqLen = 128)
    }),

    // Zipf frequency spectrum: frequency-of-frequencies of the corpus
    // vocabulary (how many types occur c times) — the corpus-stats
    // card power-law fits read from; two grouped aggs, counts only
    "q161_zipf_spectrum" -> ((s, dir) => {
      val uni = Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      uni.groupBy("c")
        .agg(count(lit(1)).as("n_types"), min("w").as("example_token"))
        .select(col("c").as("occurrences"), col("n_types"),
          expr("c * n_types").as("n_tokens"), col("example_token"))
    }),

    // vocabulary coverage curve: types ranked by frequency, exact
    // cumulative token-mass share per rank — the table a tokenizer's
    // vocab size is chosen from ("how many types cover 99%?"). The
    // output IS vocab-sized (1e8–1e9 types on web text), so rank+cum
    // go through the two-phase distributed prefix pass — never an
    // unpartitioned window; cum·1e6 through DECIMAL(38,0) (BIGINT
    // wraps past ~9.2e12 tokens)
    "q163_vocab_coverage" -> ((s, dir) => {
      val uni = Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      graft.core.Packing.rankAndCumOrdered(uni, "c", Seq(desc("c"), asc("w")))
        .crossJoin(broadcast(uni.agg(sum("c").as("total"))))
        .select(col("rank"), col("w").as("token"), col("c"), col("cum"),
          expr("CAST(cum AS DECIMAL(38,0)) * 1000000 DIV total")
            .as("cum_share_micro"))
    }),

    // BPE id-stream decode roundtrip: encode under the fixed model,
    // invert the in-engine vocab numbering, decode the flat id stream
    // back (EndOfWord markers carry the word boundaries — no sidecar)
    // and pin decoded == whitespace-normalized original per doc
    "q166_bpe_decode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocabIds = Bpe.vocabFromCounts(
          Bpe.wordCounts(docs, "text"), FixedBpeModel)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val enc = Bpe.encodeIds(docs, "doc_id", "text", FixedBpeModel, vocabIds)
      Bpe.decodeIds(enc, "doc_id", "piece_ids", vocabIds)
        .join(docs.select(col("doc_id"), col("text")), "doc_id")
        .select(col("doc_id"), col("n_pieces"),
          size(filter(col("piece_ids"), i => i === -1L)).cast("long")
            .as("n_unk"),
          col("decoded"),
          (col("decoded") ===
            regexp_replace(trim(col("text")), "\\s+", " "))
            .as("roundtrip_ok"))
    }),

    // packing-parameter sweep: for candidate sequence lengths, the
    // numbers that pick one — sequence count, boundary-split document
    // count, tail padding; ONE two-phase offsets pass feeds every
    // candidate length (arithmetic only per L)
    "q174_packing_sweep" -> ((s, dir) => {
      val counted = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      val offsets = Packing.offsetsBy(counted, "doc_id")
      Seq(256, 512, 1024).map { l =>
        offsets.agg(
          sum("n_tokens").as("total_tokens"),
          sum(when(expr(
            s"n_tokens > 0 AND tok_start DIV $l <> (tok_end - 1) DIV $l"),
            1L).otherwise(0L)).as("n_split_docs"))
          .select(lit(l.toLong).as("seq_len"), col("total_tokens"),
            expr(s"(total_tokens + ${l - 1}) DIV $l").as("n_seqs"),
            col("n_split_docs"),
            expr(s"((total_tokens + ${l - 1}) DIV $l) * $l - total_tokens")
              .as("tail_pad"))
      }.reduce(_ unionByName _)
    }),

    // interpolated Kneser-Ney bigram LM (the tokenizer-/LM-quality
    // smoothing standard, vs q68's add-one): discount d = 3/4 keeps
    // every term RATIONAL, so the whole table is exact fixed-point —
    // p_kn(w2|w1) = max(c12−d,0)/c1 + d·N1+(w1·)/c1 · N1+(·w2)/T,
    // all four statistics from ONE bigram-type table (c12; c1/N1+(w1·)
    // per w1; N1+(·w2) per w2; T = type count). Output bounded by
    // observed bigram types (vocab², model-size)
    "q204_kneser_ney" -> ((s, dir) => {
      val pairs = Tables.documents(s, dir)
        .select(explode(TextAnalysis.ngramsAll(col("text"), 2)).as("bg"))
        .filter(size(split(col("bg"), " ")) === 2)
        .select(split(col("bg"), " ").getItem(0).as("w1"),
          split(col("bg"), " ").getItem(1).as("w2"))
      val b = pairs.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c12"))
      val perW1 = b.groupBy(col("w1").as("a_w1"))
        .agg(sum("c12").as("c1"), count(lit(1)).as("n1fw"))
      val perW2 = b.groupBy(col("w2").as("b_w2"))
        .agg(count(lit(1)).as("n1pw"))
      val t = b.agg(count(lit(1)).as("tt"))
      b.join(broadcast(perW1), col("w1") === col("a_w1"))
        .join(broadcast(perW2), col("w2") === col("b_w2"))
        .crossJoin(broadcast(t))
        .select(col("w1"), col("w2"), col("c12"), col("c1"),
          col("n1fw"), col("n1pw"),
          expr("""(4 * c12 - 3) * 1000000 DIV (4 * c1)
            | + 3 * n1fw * n1pw * 1000000 DIV (4 * c1 * tt)"""
            .stripMargin).as("p_kn_micro"))
    }),

    // keyword-in-context windows: every 'customer' occurrence with a
    // ±3-token window and (doc, position) provenance — the targeted
    // data-selection operator. Filter dies in the scan stage; windows
    // slice from the row's own token array, zero joins/shuffles
    "q241_context_windows" -> ((s, dir) =>
      TextAnalysis.contextWindows(Tables.documents(s, dir), "text",
        term = "customer", radius = 3))
  )

  def oracleSql: Map[String, String] = Map(
    // q74/q75: the global cumulative token sum places every doc at
    // interval [s, e); a doc intersects sequences s/L .. (e-1)/L.
    // `//` integer division (DuckDB CAST rounds, `//` truncates like
    // Spark); every sum CAST to BIGINT (HUGEINT otherwise).
    "q74_pack_map" ->
      s"""$tokCumPlacedCtes
        |ex AS (
        |  SELECT doc_id, s, e,
        |    unnest(generate_series(s // 512, (e - 1) // 512)) AS seq_id
        |  FROM placed)
        |SELECT doc_id, seq_id,
        |  greatest(s, seq_id * 512) - seq_id * 512 AS seq_off,
        |  greatest(seq_id * 512 - s, 0) AS doc_off,
        |  least(e, (seq_id + 1) * 512) - greatest(s, seq_id * 512) AS n_toks
        |FROM ex""".stripMargin,

    // q74's map re-aggregated per sequence, boundaries as the same
    // canonical off:doc:len string (ordered by in-sequence offset)
    "q110_pack_boundaries" ->
      s"""$tokCumPlacedCtes
        |ex AS (
        |  SELECT doc_id, s, e,
        |    unnest(generate_series(s // 512, (e - 1) // 512)) AS seq_id
        |  FROM placed),
        |slices AS (
        |  SELECT doc_id, seq_id,
        |    greatest(s, seq_id * 512) - seq_id * 512 AS seq_off,
        |    least(e, (seq_id + 1) * 512) - greatest(s, seq_id * 512) AS n_toks
        |  FROM ex)
        |SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |  string_agg(seq_off || ':' || doc_id || ':' || n_toks, ';'
        |    ORDER BY seq_off) AS bounds
        |FROM slices GROUP BY seq_id""".stripMargin,

    "q75_pack_seqs" ->
      s"""$tokCumPlacedCtes
        |m AS (
        |  SELECT doc_id, s, e,
        |    unnest(generate_series(s // 512, (e - 1) // 512)) AS seq_id
        |  FROM placed),
        |slices AS (
        |$seqSliceCols
        |  FROM m JOIN documents d ON m.doc_id = d.doc_id)
        |SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |  string_agg(piece, ' ' ORDER BY seq_off) AS text
        |FROM slices GROUP BY 1""".stripMargin,

    // q78: the whole merge loop replayed relationally (see
    // q78OracleSql — aggregate-in-recursive-CTE argmax per step).
    "q78_bpe_merges" -> q78OracleSql,

    // q79: the q74 placement algebra under the n_chars cost model.
    "q79_pack_by_cost" ->
      """WITH cum AS (
        |  SELECT doc_id, n_chars AS n,
        |    CAST(sum(n_chars) OVER (ORDER BY doc_id) AS BIGINT) AS e
        |  FROM documents),
        |placed AS (SELECT doc_id, n, e - n AS s, e FROM cum WHERE n > 0),
        |ex AS (
        |  SELECT doc_id, s, e,
        |    unnest(generate_series(s // 4096, (e - 1) // 4096)) AS seq_id
        |  FROM placed)
        |SELECT doc_id, seq_id,
        |  greatest(s, seq_id * 4096) - seq_id * 4096 AS seq_off,
        |  greatest(seq_id * 4096 - s, 0) AS doc_off,
        |  least(e, (seq_id + 1) * 4096) - greatest(s, seq_id * 4096) AS n_toks
        |FROM ex""".stripMargin,

    // q80: the flagship composition under a FULL oracle (see
    // q80OracleSql — the whole curate→train→encode→pack pipeline
    // replayed as one DuckDB statement, digests compared).
    "q80_corpus_to_sequences" -> q80OracleSql,

    // q83: the q75 window algebra restricted to the fetched shard
    // range — the engine's answer went through a clustered snapshot
    // commit and a stat-pruned read and must still match.
    "q83_pack_shards" ->
      s"""$tokCumPlacedCtes
        |m AS (
        |  SELECT doc_id, s, e,
        |    unnest(generate_series(s // 512, (e - 1) // 512)) AS seq_id
        |  FROM placed),
        |slices AS (
        |$seqSliceCols
        |  FROM m JOIN documents d ON m.doc_id = d.doc_id
        |  WHERE m.seq_id <= 3),
        |assembled AS (
        |  SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |    string_agg(piece, ' ' ORDER BY seq_off) AS text
        |  FROM slices GROUP BY 1)
        |SELECT * FROM assembled""".stripMargin,

    "q82_bpe_dict" ->
      """SELECT word, cnt FROM (
        |  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |    FROM documents)
        |  WHERE length(word) > 0 GROUP BY 1)
        |WHERE cnt >= 2""".stripMargin,

    // q81: base id hash, then the per-epoch Lehmer scramble
    // key_e = h * 48271^(e+1) + e (mod p). p^2 < 2^63 so the products
    // are exact BIGINT in both engines.
    "q81_epoch_shuffle" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(doc_id || ':42', ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) % 1000000007 AS hv
        |  FROM documents)
        |SELECT doc_id,
        |  (hv * 48271) % 1000000007 AS key_epoch0,
        |  ((hv * ((CAST(48271 AS BIGINT) * 48271) % 1000000007))
        |    % 1000000007 + 1) % 1000000007 AS key_epoch1
        |FROM h""".stripMargin,

    // q85: recursive-CTE replay of greedy rank-merge BPE encode over
    // the fixed model's literal merge table (see q85OracleSql doc)
    "q85_bpe_encode_fixed" -> q85OracleSql,

    // q92: q85's per-doc encode replay (the same recursive CTE, as a
    // derived table) aggregated per source; BIGINT sums exact, ratios
    // divided once at the end
    "q92_tokenizer_fertility" -> q92OracleSql,

    // q93: the concatenated packing replayed relationally — one
    // running-sum window for offsets, position/L bucketing, trailing
    // partial dropped (it is the stream's TAIL, not an emitted
    // sequence)
    "q93_stream_pack" ->
      """WITH ids AS (
        |  SELECT doc_id, doc_id % 5 + 3 AS n FROM documents),
        |offs AS (
        |  SELECT doc_id, n,
        |    sum(n) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n
        |      AS tok_start
        |  FROM ids),
        |toks AS (
        |  SELECT doc_id, tok_start + j.range AS pos,
        |    doc_id * 10 + j.range AS token_id
        |  FROM offs, range(7) j WHERE j.range < n),
        |tot AS (SELECT sum(n) AS nt FROM ids)
        |SELECT CAST(pos // 64 AS BIGINT) AS seq_id,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  string_agg(CAST(token_id AS VARCHAR), ',' ORDER BY pos) AS ids_str
        |FROM toks, tot
        |WHERE pos < (nt // 64) * 64
        |GROUP BY 1""".stripMargin,

    // the BPE trainer's first merge step, replayed relationally from
    // the corpus word dictionary: char-split + end-of-word symbol,
    // adjacent-pair counts weighted by word frequency, trainer
    // tie-break (count desc, pair lexicographic). rank-1 IS the first
    // merge — the Spark side embeds the driver loop's actual argmax as
    // a literal, so the hashes pin loop == relational semantics.
    "q96_bpe_first_merge" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |  FROM documents),
        |dict AS (
        |  SELECT word, count(*) AS cnt FROM toks
        |  WHERE length(word) > 0 GROUP BY 1 HAVING count(*) >= 2),
        |sym AS (
        |  SELECT list_append(regexp_split_to_array(word, ''), '</w>') AS s, cnt
        |  FROM dict),
        |expl AS (
        |  SELECT unnest([{'a': s[i], 'b': s[i+1]}
        |                 for i in generate_series(1, len(s)-1)],
        |                recursive := true), cnt
        |  FROM sym),
        |pc AS (
        |  SELECT a, b, CAST(sum(cnt) AS BIGINT) AS c FROM expl GROUP BY 1, 2),
        |top AS (
        |  SELECT a, b, c,
        |    CAST(row_number() OVER (ORDER BY c DESC, a, b) AS BIGINT) AS rank
        |  FROM pc QUALIFY rank <= 50)
        |SELECT rank, a, b, c, (rank = 1) AS is_first_merge FROM top""".stripMargin,

    // greedy token-budget prefix: window cumulative sum under the
    // (alpha_micro desc, doc_id) order, integer fixed-point priority
    "q107_token_budget" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens,
        |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1000000
        |      AS BIGINT) // greatest(length(text), 1) AS alpha_micro
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, n_tokens, alpha_micro,
        |    sum(n_tokens) OVER (ORDER BY alpha_micro DESC, doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tok_end
        |  FROM c)
        |SELECT doc_id, n_tokens, alpha_micro,
        |  CAST(tok_end - n_tokens AS BIGINT) AS tok_start,
        |  CAST(tok_end AS BIGINT) AS tok_end
        |FROM o WHERE tok_end <= 20000""".stripMargin,

    // q121: per-bucket longest-first rank replayed as a window (the
    // scalable two-phase rank must agree with the window formulation
    // under the same total order), then exact-integer batch padding
    "q121_length_batching" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |ranked AS (
        |  SELECT doc_id, n_tokens, n_tokens // 64 AS bucket,
        |    row_number() OVER (PARTITION BY (n_tokens // 64)
        |      ORDER BY n_tokens DESC, doc_id ASC) - 1 AS rk
        |  FROM c)
        |SELECT bucket, rk // 32 AS batch,
        |  count(*) AS n_docs,
        |  max(n_tokens) AS max_len,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_len,
        |  max(n_tokens) * count(*) - CAST(sum(n_tokens) AS BIGINT)
        |    AS pad_waste
        |FROM ranked GROUP BY 1, 2""".stripMargin,

    // q124: WordPiece greedy longest-match replayed relationally —
    // the longest matching piece per (word, pos) is a plain argmax
    // over the bounded candidate grid, and the greedy walk is a
    // recursive CTE over those PRE-RESOLVED jumps (no per-step
    // argmax). A word whose walk strands short of its length is
    // [UNK]. Vocab literals interpolate from Wordpiece.FixedVocab —
    // one source of truth
    "q124_wordpiece_encode" -> {
      val vocabList = graft.core.Wordpiece.FixedVocab
        .map(v => s"'$v'").mkString(",")
      val mp = graft.core.Wordpiece.MaxPiece
      s"""WITH RECURSIVE
        |words AS (
        |  SELECT DISTINCT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
        |  FROM documents),
        |cands AS (
        |  SELECT w, CAST(i // $mp AS INT) AS pos,
        |    CAST(i % $mp + 1 AS INT) AS l
        |  FROM (SELECT w, unnest(generate_series(0, len(w) * $mp - 1)) AS i
        |        FROM words)
        |  WHERE (i // $mp) + (i % $mp + 1) <= len(w)),
        |matched AS (
        |  SELECT w, pos, l,
        |    CASE WHEN pos = 0 THEN substr(w, 1, l)
        |         ELSE '##' || substr(w, pos + 1, l) END AS piece
        |  FROM cands
        |  WHERE (CASE WHEN pos = 0 THEN substr(w, 1, l)
        |         ELSE '##' || substr(w, pos + 1, l) END)
        |    IN (SELECT unnest([$vocabList]))),
        |jumps AS (
        |  SELECT w, pos, piece, l FROM (
        |    SELECT w, pos, piece, l,
        |      row_number() OVER (PARTITION BY w, pos ORDER BY l DESC) AS rn
        |    FROM matched) WHERE rn = 1),
        |walk AS (
        |  SELECT w, 0 AS pos, CAST(NULL AS VARCHAR) AS piece, 0 AS ord
        |  FROM words
        |  UNION ALL
        |  SELECT wk.w, wk.pos + j.l, j.piece, wk.ord + 1
        |  FROM walk wk JOIN jumps j ON wk.w = j.w AND wk.pos = j.pos
        |  WHERE wk.pos < len(wk.w)),
        |reach AS (SELECT w, max(pos) AS reach FROM walk GROUP BY w),
        |plist AS (
        |  SELECT w, list(piece ORDER BY ord) AS ps
        |  FROM walk WHERE piece IS NOT NULL GROUP BY w),
        |enc AS (
        |  SELECT r.w,
        |    CASE WHEN r.reach = len(r.w)
        |         THEN coalesce(p.ps, CAST([] AS VARCHAR[]))
        |         ELSE ['[UNK]'] END AS pieces
        |  FROM reach r LEFT JOIN plist p ON r.w = p.w),
        |$toksTail
        |  CAST(sum(len(e.pieces)) AS BIGINT) AS n_pieces,
        |  CAST(sum(CASE WHEN e.pieces = ['[UNK]'] THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_unk,
        |  string_agg(array_to_string(e.pieces, ' '), ' ' ORDER BY tk.widx)
        |    AS text_pieces
        |FROM toks tk JOIN enc e ON tk.w = e.w
        |GROUP BY tk.doc_id""".stripMargin
    },

    // q126: windows replayed with generate_series + list slicing;
    // DuckDB list slices are 1-based inclusive and clamp like slice()
    "q126_chunk_windows" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |starts AS (
        |  SELECT doc_id, t,
        |    unnest(generate_series(0, greatest(len(t) - 1, 0), 48)) AS s
        |  FROM toks)
        |SELECT doc_id,
        |  CAST(s // 48 AS BIGINT) AS chunk_idx,
        |  CAST(s AS BIGINT) AS chunk_start,
        |  CAST(len(t[s + 1 : s + 64]) AS BIGINT) AS n_chunk_tokens,
        |  array_to_string(t[s + 1 : s + 64], ' ') AS chunk_text
        |FROM starts""".stripMargin,

    // q127: every mask replayed — same rolling hash of 'id:pos', same
    // union coverage, same run sentinels; nested windows split so the
    // cumulative run id consumes a materialized run-start flag
    "q127_span_corrupt" ->
      """WITH toks AS (
        |  SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos,
        |    unnest(t) AS tok
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |        FROM documents)),
        |h AS (
        |  SELECT doc_id, pos, tok,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(
        |        CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS hv
        |  FROM toks),
        |cov AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(generate_series(pos, pos + 2 + (hv // 1000) % 3 - 1))
        |      AS pos
        |  FROM h WHERE hv % 1000 < 50),
        |flagged AS (
        |  SELECT t.doc_id, t.pos, t.tok, (c.pos IS NOT NULL) AS m
        |  FROM toks t LEFT JOIN cov c
        |    ON t.doc_id = c.doc_id AND t.pos = c.pos),
        |rs AS (
        |  SELECT doc_id, pos, tok, m,
        |    m AND NOT coalesce(lag(m) OVER (PARTITION BY doc_id
        |      ORDER BY pos), FALSE) AS run_start
        |  FROM flagged),
        |runs AS (
        |  SELECT doc_id, pos, tok, m, run_start,
        |    CAST(sum(CASE WHEN run_start THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS rid
        |  FROM rs),
        |pieces AS (
        |  SELECT doc_id, pos, m, rid,
        |    CASE WHEN NOT m THEN tok
        |         WHEN run_start THEN '<X' || CAST(rid - 1 AS VARCHAR) || '>'
        |    END AS piece
        |  FROM runs)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
        |  CAST(max(rid) AS BIGINT) AS n_spans,
        |  coalesce(string_agg(piece, ' ' ORDER BY pos)
        |    FILTER (WHERE piece IS NOT NULL), '') AS corrupted_text
        |FROM pieces GROUP BY doc_id""".stripMargin,

    // q133: the Viterbi optimum re-derived by BRUTE-FORCE path
    // enumeration (recursive CTE over all segmentations — bounded:
    // corpus words are short) + the same (score DESC, n ASC,
    // path ASC) argmax; doc reassembly is the q124 widx pattern
    "q133_unigram_encode" -> {
      val vocabVals = graft.core.Unigram.FixedScores.toSeq.sortBy(_._1)
        .map { case (p, sc) => s"('$p', $sc)" }.mkString(", ")
      s"""WITH RECURSIVE
        |vocab(piece, s) AS (SELECT * FROM (VALUES $vocabVals)),
        |words AS (
        |  SELECT DISTINCT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
        |  FROM documents),
        |paths AS (
        |  SELECT w, 0 AS pos, CAST('' AS VARCHAR) AS path,
        |    CAST(0 AS BIGINT) AS score, 0 AS n
        |  FROM words
        |  UNION ALL
        |  SELECT p.w, p.pos + len(v.piece),
        |    CASE WHEN p.path = '' THEN v.piece
        |         ELSE p.path || ' ' || v.piece END,
        |    p.score + v.s, p.n + 1
        |  FROM paths p JOIN vocab v
        |    ON v.piece = substr(p.w, p.pos + 1, len(v.piece))
        |  WHERE p.pos < len(p.w)),
        |best AS (
        |  SELECT w, path, score, n,
        |    row_number() OVER (PARTITION BY w
        |      ORDER BY score DESC, n ASC, path ASC) AS rn
        |  FROM paths WHERE pos = len(w)),
        |enc AS (
        |  SELECT wd.w, coalesce(b.path, '[UNK]') AS path,
        |    coalesce(b.score, 0) AS score, coalesce(b.n, 1) AS np
        |  FROM words wd LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
        |    ON wd.w = b.w),
        |$toksTail
        |  CAST(sum(e.np) AS BIGINT) AS n_pieces,
        |  CAST(sum(e.score) AS BIGINT) AS score_total,
        |  string_agg(e.path, ' ' ORDER BY tk.widx) AS text_pieces
        |FROM toks tk JOIN enc e ON tk.w = e.w
        |GROUP BY tk.doc_id""".stripMargin
    },

    // q135: q74's placement CTE under the rendered-token cost model,
    // plus the mask intersection [doc_off, doc_off+n_toks) x
    // [n_prompt, n) re-based by seq_off
    "q135_sft_pack_masks" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(
        |      '<|user|> ' || lang || ' ' || source || ' <|assistant|>'),
        |      '\s+')) AS BIGINT) AS np,
        |    CAST(len(regexp_split_to_array(trim(
        |      '<|user|> ' || lang || ' ' || source || ' <|assistant|> '
        |      || coalesce(text, '') || ' <|end|>'),
        |      '\s+')) AS BIGINT) AS n
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, np, n,
        |    CAST(sum(n) OVER (ORDER BY doc_id) AS BIGINT) AS e
        |  FROM tok),
        |placed AS (SELECT doc_id, np, n, e - n AS s, e FROM cum WHERE n > 0),
        |ex AS (
        |  SELECT doc_id, np, n, s, e,
        |    unnest(generate_series(s // 128, (e - 1) // 128)) AS seq_id
        |  FROM placed),
        |m AS (
        |  SELECT doc_id, seq_id, np, n,
        |    greatest(s, seq_id * 128) - seq_id * 128 AS seq_off,
        |    greatest(seq_id * 128 - s, 0) AS doc_off,
        |    least(e, (seq_id + 1) * 128) - greatest(s, seq_id * 128) AS n_toks
        |  FROM ex)
        |SELECT seq_id, doc_id, seq_off, n_toks,
        |  CASE WHEN least(doc_off + n_toks, n) - greatest(doc_off, np) > 0
        |       THEN seq_off + greatest(doc_off, np) - doc_off
        |       ELSE -1 END AS loss_off,
        |  greatest(least(doc_off + n_toks, n) - greatest(doc_off, np), 0)
        |    AS loss_len
        |FROM m""".stripMargin,

    // q161: identical two-level counts; example token = min per cell
    "q161_zipf_spectrum" ->
      """WITH uni AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |        FROM documents)
        |  GROUP BY 1)
        |SELECT c AS occurrences, CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(c * count(*) AS BIGINT) AS n_tokens,
        |  min(w) AS example_token
        |FROM uni GROUP BY 1""".stripMargin,

    // q163: same (c DESC, w) rank, same running sum, same integer
    // share
    "q163_vocab_coverage" ->
      """WITH uni AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |        FROM documents)
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM uni),
        |r AS (
        |  SELECT w AS token, c,
        |    CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS rank,
        |    CAST(sum(c) OVER (ORDER BY c DESC, w
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum
        |  FROM uni)
        |SELECT rank, token, c, cum,
        |  CAST(cum * 1000000 // t.total AS BIGINT) AS cum_share_micro
        |FROM r CROSS JOIN tot t""".stripMargin,

    // q166: decode derived from q85's per-word encode replay — strip
    // the piece/word separators, turn EndOfWord markers into spaces,
    // and the roundtrip must land on the normalized original text
    "q166_bpe_decode" ->
      s"""SELECT t.doc_id, t.n_pieces, CAST(0 AS BIGINT) AS n_unk,
         |  trim(replace(replace(t.encoded, ' ', ''), '</w>', ' '))
         |    AS decoded,
         |  trim(replace(replace(t.encoded, ' ', ''), '</w>', ' ')) =
         |    regexp_replace(trim(d.text), '\\s+', ' ', 'g') AS roundtrip_ok
         |FROM (
         |$q85OracleSql
         |) t JOIN documents d USING (doc_id)""".stripMargin,

    // q174: the same doc_id-ordered running offsets + per-L integer
    // arithmetic, one UNION ALL branch per candidate length
    "q174_packing_sweep" -> {
      def branch(l: Int): String =
        s"""SELECT CAST($l AS BIGINT) AS seq_len,
           |  CAST(sum(n) AS BIGINT) AS total_tokens,
           |  CAST((sum(n) + ${l - 1}) // $l AS BIGINT) AS n_seqs,
           |  CAST(sum(CASE WHEN n > 0 AND s // $l <> (e - 1) // $l
           |      THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs,
           |  CAST(((sum(n) + ${l - 1}) // $l) * $l - sum(n) AS BIGINT)
           |    AS tail_pad
           |FROM o2""".stripMargin
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
         |      AS n
         |  FROM documents),
         |o AS (
         |  SELECT doc_id, n,
         |    CAST(sum(n) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS e
         |  FROM t),
         |o2 AS (SELECT doc_id, n, e - n AS s, e FROM o)
         |${Seq(256, 512, 1024).map(branch).mkString("\nUNION ALL\n")}"""
        .stripMargin
    },

    // q204: the same four statistics from the same bigram-type table;
    // positive operands throughout so DIV == //. The bigram list
    // mirrors ngramsAll(text, 2) (partial last gram filtered by the
    // two-token guard on both sides)
    "q204_kneser_ney" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |pairs AS (
        |  SELECT g[1] AS w1, g[2] AS w2
        |  FROM (
        |    SELECT unnest([t[i+1:i+2]
        |      for i in generate_series(0, greatest(len(t)-2, 0))]) AS g
        |    FROM toks)
        |  WHERE len(g) = 2),
        |b AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        |  FROM pairs GROUP BY 1, 2),
        |pw1 AS (
        |  SELECT w1 AS a_w1, CAST(sum(c12) AS BIGINT) AS c1,
        |    CAST(count(*) AS BIGINT) AS n1fw
        |  FROM b GROUP BY 1),
        |pw2 AS (
        |  SELECT w2 AS b_w2, CAST(count(*) AS BIGINT) AS n1pw
        |  FROM b GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM b)
        |SELECT w1, w2, c12, c1, n1fw, n1pw,
        |  CAST((4 * c12 - 3) * 1000000 // (4 * c1)
        |    + 3 * n1fw * n1pw * 1000000 // (4 * c1 * tt) AS BIGINT)
        |    AS p_kn_micro
        |FROM b
        |JOIN pw1 ON w1 = a_w1
        |JOIN pw2 ON w2 = b_w2, t""".stripMargin,

    // q241: positions via bounded series enumeration, windows via
    // list_slice with the same clamp arithmetic
    "q241_context_windows" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |hits AS (
        |  SELECT doc_id, t, g.i AS pos
        |  FROM d, (SELECT unnest(generate_series(1,
        |    (SELECT max(len(t)) FROM d))) AS i) g
        |  WHERE g.i <= len(t) AND t[g.i] = 'customer')
        |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |  array_to_string(list_slice(t,
        |    greatest(pos - 3, 1), least(pos + 3, len(t))), ' ') AS window
        |FROM hits""".stripMargin
  )

  /** Fixed, library-constant BPE model for the q85 oracle-checkable
    * encode gate: trained once (deterministically) over an embedded
    * dictionary of common data-engineering tokens — the domain
    * vocabulary the synthetic corpus speaks — so the learned merges
    * actually fire on real documents. The model is a PARAMETER of
    * encode the way PQ codebooks are for q56/q57; its merge list is
    * embedded as literals in the DuckDB oracle.
    */
  lazy val FixedBpeModel: Bpe.Model = Bpe.trainFromDict(Array(
    ("the", 50L), ("data", 40L), ("table", 35L), ("query", 30L),
    ("row", 28L), ("scan", 25L), ("hash", 24L), ("join", 22L),
    ("merge", 20L), ("order", 18L), ("filter", 17L), ("stream", 16L),
    ("window", 15L), ("vector", 14L), ("group", 13L), ("batch", 12L),
    ("value", 11L), ("column", 10L), ("sort", 9L), ("fast", 8L),
    ("slow", 7L), ("small", 6L), ("customer", 5L), ("spark", 5L),
    ("line", 4L), ("key", 4L), ("part", 3L), ("agg", 3L),
    ("big", 2L), ("dup", 2L), ("a", 2L)),
    numMerges = 60, minFrequency = 1L)

  /** The q80 flagship pipeline — curate (5-stage gates) -> survivors
    * -> BPE train + id-encode on the CURATED corpus -> packed
    * fixed-length token-id sequences — parameterized over the encode
    * boundary:
    *
    *  - `encodeTable = Some(dir)` (the gate, and production): the
    *    encode output is WRITTEN as a SnapshotTable between stages and
    *    read twice. Measured FASTER than re-running the encode per
    *    consumer at every methodology tried (10.3s vs 14.5s bench,
    *    11.6s vs 18.8s cold-cache at sf0.1 — PLANS.md "q80 encode
    *    boundary"), and the only shape that works when encode output
    *    exceeds memory. (An in-memory `.persist()` of the wide
    *    piece_ids arrays was ALSO slower than both in round 3 —
    *    11.0 -> 13.4s — columnar parquet + lazy column pruning beats
    *    row-cache materialization here.)
    *  - `encodeTable = None`: re-run the memoized encode per consumer
    *    — the zero-side-effect form for one-shot jobs on small corpora
    *    (PackingSpec pins equality of the two forms).
    *
    * Gate projection is SCALAR-only: the driver's checker sorts
    * columns in pandas, and an array<bigint> column crashes it
    * (unhashable ndarray — the r03 q80 red row). Library callers get
    * the raw token_ids via [[Packing.packIdSequences]]; the gate pins
    * the same content as an order-sensitive digest.
    */
  def corpusToSequences(s: SparkSession, dir: String,
                        encodeTable: Option[String] = None): DataFrame = {
    val docs = Tables.documents(s, dir)
    // docs ⋈ broadcast(id list) — measured FASTER than pulling the
    // texts out of the stage caches (g3 ⋈ ids chained two text
    // shuffles; this is one broadcast hash join over the raw scan:
    // 9.4 vs 10.8 s bench). A def, not a val: the curation stages must
    // build inside the corpus-write scope below so it releases them.
    def curated = docs.join(
        Curation.curateFullSurvivorIds(docs, maxNllMicro = 3450000L),
        Seq("doc_id"))
      .select(col("doc_id"), col("text"))
    // The curated-corpus boundary. Per-job attribution: over half of
    // q80's wall time was DRIVER-side gaps between ~54 jobs — every
    // downstream action re-analyzed the five-stage
    // curation lineage, and each AQE stage re-optimized it. Writing
    // the boundary as a table (the between-pipeline table a production
    // run writes anyway) makes every downstream plan a manifest-
    // planned scan leaf, and releases the curation caches HERE rather
    // than pinning them until the encode write. The in-memory persist
    // remains the zero-side-effect small-corpus form.
    val corpus = encodeTable match {
      case Some(t) => Materialize.scope {
        graft.sources.SnapshotTable.overwrite(curated, t + "_corpus")
        graft.sources.SnapshotTable.read(s, t + "_corpus")
      }
      case None => Materialize.persist(curated)
    }
    // ONE corpus scan feeds BOTH the training dict and the vocabulary:
    // the persisted word-frequency table is the training input (filter
    // + cap exactly as Bpe.train), and the char vocabulary derives
    // from word TYPES (Bpe.vocabFromCounts — identical char set, |word
    // types| rows scanned instead of a second corpus pass).
    val (model, vocabIds) = Materialize.scope {
      val wc = Materialize.persist(Bpe.wordCounts(corpus, "text"))
      val dict = wc.filter(col("cnt") >= 2L)
        .orderBy(col("cnt").desc, col("word")).limit(2000000)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val model = Bpe.trainFromDict(dict, numMerges = 100, minFrequency = 2L)
      (model, Bpe.vocabFromCounts(wc, model)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    }
    val enc = Bpe.encodeIds(corpus, "doc_id", "text", model, vocabIds)
    val packed = encodeTable match {
      case Some(t) =>
        // the encode boundary stays MATERIALIZED (measured faster than
        // re-running the encode per packing consumer at every
        // methodology tried — PLANS.md "q80 encode boundary" — and the
        // only shape that works when encode output exceeds memory).
        graft.sources.SnapshotTable.overwrite(enc, t)
        Packing.packIdSequences(
          graft.sources.SnapshotTable.read(s, t), "doc_id", seqLen = 512)
      case None =>
        // zero-side-effect small-corpus form: the result is lazy, so
        // the caches must outlive this call — one-shot jobs only
        // (session teardown reclaims them; long-lived callers should
        // pass an encodeTable)
        Packing.packIdSequences(enc, "doc_id", seqLen = 512)
    }
    // md5 of the comma-joined ids, not xxhash64: Spark's xxhash64 is
    // engine-private (seed + internal-representation hashing), while
    // md5 of the SAME ascii string is reproducible by any engine —
    // which is what lets q80's oracle replay the whole pipeline
    // relationally and hash-compare the packed id arrays.
    packed.select(col("seq_id"), col("n_docs"), col("n_tokens"),
      md5(concat_ws(",", col("token_ids"))).as("ids_hash"))
  }

  /** q78's oracle: the ENTIRE 100-merge training loop replayed as one
    * recursive CTE — the iterated argmax the r5-r7 gates could only
    * rows-only-check. The working table is the symbolized dictionary
    * (one row per word type, it = merges applied so far); each
    * recursion (a) re-counts adjacent pairs over all current rows
    * weighted by word frequency, (b) picks the trainer's exact argmax
    * (count desc, pair lexicographic — DuckDB and the JVM agree on
    * byte order for this ASCII symbol space), (c) rewrites every word
    * with leftmost-non-overlapping merge-all (q85's run-parity test),
    * carrying the chosen pair on every row of the new iteration. The
    * merge list is then DISTINCT(it, pair); termination mirrors the
    * trainer (100 merges or best count under minFrequency=2). This
    * pins loop-vs-declared semantics on corpus data for every step,
    * not just step 1 (q96).
    */
  private lazy val q78OracleSql: String = {
    // leftmost-non-overlap keep test (q85's run-parity form) for match
    // position `i` over list `sv` against the chosen pair bp
    def kept(sv: String, i: String) =
      s"""($i >= 1 AND $i < len($sv) AND $sv[$i] = bp.a AND $sv[$i + 1] = bp.b
         |      AND ((($i - 1) - coalesce(list_max([j for j in
         |        generate_series(1, $i - 1)
         |        if NOT ($sv[j] = bp.a AND $sv[j + 1] = bp.b)]), 0)) % 2 = 0))""".stripMargin
    s"""WITH RECURSIVE
       |toks AS (
       |  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
       |  FROM documents),
       |dict AS (
       |  SELECT word, count(*) AS cnt FROM toks
       |  WHERE length(word) > 0 GROUP BY 1 HAVING count(*) >= 2),
       |steps(it, s, cnt, m_a, m_b) AS (
       |  SELECT 0, list_append(regexp_split_to_array(word, ''), '</w>'),
       |         CAST(cnt AS BIGINT),
       |         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
       |  FROM dict
       |  UNION ALL
       |  SELECT st.it + 1,
       |    list_filter([CASE WHEN ${kept("st.s", "i")}
       |                        THEN st.s[i] || st.s[i + 1]
       |                      WHEN i > 1 AND ${kept("st.s", "(i - 1)")}
       |                        THEN NULL
       |                      ELSE st.s[i] END
       |                 for i in generate_series(1, len(st.s))],
       |                x -> x IS NOT NULL),
       |$bestPairStepCols
       |)
       |SELECT CAST(it - 1 AS BIGINT) AS merge_rank, m_a AS lhs, m_b AS rhs
       |FROM steps WHERE it > 0 GROUP BY 1, 2, 3""".stripMargin
  }

  /** q80's oracle — the ENTIRE flagship pipeline replayed as one
    * DuckDB statement: the q73 curation chain (survivor set), the q78
    * merge-training recursion over the CURATED corpus, vocabulary
    * numbering (chars sorted, then '</w>' + merge products in learned
    * order, keep-first dedup — Bpe.vocabFromCounts), the q85 encode
    * recursion with the TRAINED merge state carried ON the rows (a
    * steps-derived CTE referenced inside a recursion is re-evaluated
    * per iteration — measured 130s -> 1s), the q74/q79 placement
    * algebra over piece counts, sequence assembly, and an md5 digest
    * of the comma-joined ids (portable, unlike Spark's xxhash64 —
    * which is why q80's projection switched). Every non-recursive CTE
    * is MATERIALIZED: the multi-consumer curation chain otherwise
    * re-evaluates per downstream path. This closes the last
    * composition-level rows-only gate — only the two ML scorers
    * (q28/q29) remain rows-only, each with a full-oracle twin.
    */
  private lazy val q80OracleSql: String =
    s"""WITH RECURSIVE
       |-- ======== curation (q73's oracle chain, survivor set only) ========
       |base AS MATERIALIZED (
       |  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS t
       |  FROM documents),
       |ratios AS MATERIALIZED (
       |$qualityRatioCols
       |  FROM base),
       |qual AS MATERIALIZED (
       |  SELECT doc_id, text, t,
       |    round(sw * 0.4 + alpha * 0.6 - punct * 0.5, 6) AS quality_score
       |  FROM ratios),
       |rep AS MATERIALIZED (
       |  SELECT doc_id,
       |    round(1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6)
       |      AS dup_token_ratio
       |  FROM base),
       |g1 AS MATERIALIZED (
       |  SELECT q.doc_id, q.text, q.t
       |  FROM qual q JOIN rep r ON q.doc_id = r.doc_id
       |  WHERE q.quality_score >= 0.51 AND r.dup_token_ratio <= 0.6),
       |wins AS MATERIALIZED (
       |  SELECT doc_id, generate_subscripts(ws, 1) - 1 AS pos, unnest(ws) AS win
       |  FROM (SELECT doc_id,
       |          [array_to_string(t[i+1:i+8], ' ')
       |           for i in generate_series(0, greatest(len(t)-8, 0))] AS ws
       |        FROM g1)),
       |whash AS MATERIALIZED (
       |$windowHashCols
       |  FROM wins),
       |wflag AS MATERIALIZED (
       |  SELECT doc_id, pos FROM (
       |    SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS cnt FROM whash)
       |  WHERE cnt >= 2),
       |wcov AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN nxt IS NULL THEN 8 ELSE least(8, nxt - pos) END)
       |      AS BIGINT) AS dup_raw
       |  FROM (SELECT doc_id, pos,
       |          lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
       |        FROM wflag)
       |  GROUP BY 1),
       |g2 AS MATERIALIZED (
       |  SELECT g.doc_id, g.text, g.t
       |  FROM g1 g LEFT JOIN wcov c ON g.doc_id = c.doc_id
       |  WHERE round(CAST(least(coalesce(c.dup_raw, 0), len(g.t)) AS DOUBLE)
       |    / len(g.t), 6) <= 0.8),
       |keptx AS MATERIALIZED (
       |  SELECT doc_id, text, t,
       |    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
       |  FROM g2),
       |keptd AS MATERIALIZED (SELECT doc_id, text, t FROM keptx WHERE rn = 1),
       |lmp AS MATERIALIZED (
       |  SELECT doc_id, unnest([{'w1': t[i+1], 'w2': t[i+2]}
       |    for i in generate_series(0, len(t)-2)]) AS p
       |  FROM keptd WHERE len(t) >= 2),
       |lm AS MATERIALIZED (
       |  SELECT p['w1'] AS w1, p['w2'] AS w2, count(*) AS c FROM lmp GROUP BY 1, 2),
       |ctx AS MATERIALIZED (SELECT w1, CAST(sum(c) AS BIGINT) AS c_ctx FROM lm GROUP BY 1),
       |voc AS MATERIALIZED (SELECT count(DISTINCT tok) AS v
       |        FROM (SELECT unnest(t) AS tok FROM keptd)),
       |lterm AS MATERIALIZED (
       |  SELECT l0.doc_id, coalesce(lm.c, 0) AS c, coalesce(ctx.c_ctx, 0) AS cctx
       |  FROM lmp l0
       |  LEFT JOIN lm ON l0.p['w1'] = lm.w1 AND l0.p['w2'] = lm.w2
       |  LEFT JOIN ctx ON l0.p['w1'] = ctx.w1),
       |lscore AS MATERIALIZED (
       |  SELECT doc_id, count(*) AS n_bigrams,
       |$llScaledCols
       |  FROM lterm GROUP BY 1),
       |g3 AS MATERIALIZED (
       |  SELECT k.doc_id, k.text, k.t
       |  FROM keptd k LEFT JOIN lscore s ON k.doc_id = s.doc_id
       |  WHERE coalesce(s.ll_scaled, 0) >= -3450000 * coalesce(s.n_bigrams, 0)),
       |sh AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_distinct(
       |    [array_to_string(t[i+1:i+3], ' ')
       |     for i in generate_series(0, greatest(len(t)-3, 0))])) AS shingle
       |  FROM g3),
       |shcounts AS MATERIALIZED (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |cand AS MATERIALIZED (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |prs AS MATERIALIZED (
       |  SELECT p.doc_a, p.doc_b
       |  FROM cand p
       |  JOIN shcounts ca ON p.doc_a = ca.doc_id
       |  JOIN shcounts cb ON p.doc_b = cb.doc_id
       |  WHERE CAST(p.n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - p.n_common) >= 0.2),
       |edges AS MATERIALIZED (
       |  SELECT doc_a AS src, doc_b AS dst FROM prs
       |  UNION SELECT doc_b, doc_a FROM prs),
       |cc AS MATERIALIZED (
       |  SELECT src AS doc, src AS lbl FROM edges
       |  UNION
       |  SELECT e.dst AS doc, cc.lbl FROM cc JOIN edges e ON cc.doc = e.src),
       |labels AS MATERIALIZED (SELECT doc, min(lbl) AS cluster_id FROM cc GROUP BY 1),
       |corpus AS MATERIALIZED (
       |  SELECT k.doc_id, k.text, k.t
       |  FROM g3 k LEFT JOIN labels l ON k.doc_id = l.doc
       |  WHERE coalesce(l.cluster_id, k.doc_id) = k.doc_id),
       |-- ======== BPE training on the curated corpus (q78's loop) ========
       |cw AS MATERIALIZED (SELECT unnest(t) AS word FROM corpus),
       |dict AS MATERIALIZED (
       |  SELECT word, count(*) AS cnt FROM cw
       |  WHERE length(word) > 0 GROUP BY 1 HAVING count(*) >= 2),
       |steps(it, s, cnt, m_a, m_b) AS (
       |  SELECT 0, list_append(regexp_split_to_array(word, ''), '</w>'),
       |         CAST(cnt AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
       |  FROM dict
       |  UNION ALL
       |  SELECT st.it + 1,
       |    list_filter([CASE WHEN (i >= 1 AND i < len(st.s) AND st.s[i] = bp.a AND st.s[i + 1] = bp.b
       |      AND (((i - 1) - coalesce(list_max([j for j in generate_series(1, i - 1)
       |        if NOT (st.s[j] = bp.a AND st.s[j + 1] = bp.b)]), 0)) % 2 = 0))
       |                        THEN st.s[i] || st.s[i + 1]
       |                      WHEN i > 1 AND ((i - 1) >= 1 AND (i - 1) < len(st.s) AND st.s[(i - 1)] = bp.a AND st.s[(i - 1) + 1] = bp.b
       |      AND ((((i - 1) - 1) - coalesce(list_max([j for j in generate_series(1, (i - 1) - 1)
       |        if NOT (st.s[j] = bp.a AND st.s[j + 1] = bp.b)]), 0)) % 2 = 0))
       |                        THEN NULL
       |                      ELSE st.s[i] END
       |                 for i in generate_series(1, len(st.s))],
       |                x -> x IS NOT NULL),
       |$bestPairStepCols
       |),
       |mg_t AS MATERIALIZED (
       |  SELECT CAST(it - 1 AS BIGINT) AS rank, m_a, m_b
       |  FROM steps WHERE it > 0 GROUP BY 1, 2, 3),
       |-- ======== vocabulary numbering (Bpe.vocabFromCounts) ========
       |chars AS MATERIALIZED (
       |  SELECT piece, CAST(row_number() OVER (ORDER BY piece) AS BIGINT) - 1
       |    AS piece_id
       |  FROM (SELECT DISTINCT unnest(regexp_split_to_array(word, '')) AS piece
       |        FROM dict
       |        -- NOTE: vocabFromCounts scans word TYPES of the FULL word-count
       |        -- table (no min-frequency filter)
       |        ) WHERE length(piece) > 0),
       |allwords AS MATERIALIZED (SELECT DISTINCT word FROM cw WHERE length(word) > 0),
       |vchars AS MATERIALIZED (
       |  SELECT piece, CAST(row_number() OVER (ORDER BY piece) AS BIGINT) - 1
       |    AS piece_id
       |  FROM (SELECT DISTINCT unnest(regexp_split_to_array(word, '')) AS piece
       |        FROM allwords) WHERE length(piece) > 0),
       |vbase AS MATERIALIZED (SELECT count(*) AS c FROM vchars),
       |products AS MATERIALIZED (
       |  SELECT CAST(-1 AS BIGINT) AS ord, '</w>' AS piece
       |  UNION ALL
       |  SELECT rank, m_a || m_b FROM mg_t),
       |firsts AS MATERIALIZED (SELECT piece, min(ord) AS ord FROM products GROUP BY 1),
       |learned AS MATERIALIZED (
       |  SELECT piece,
       |    (SELECT c FROM vbase) + CAST(row_number() OVER (ORDER BY ord) AS BIGINT)
       |      - 1 AS piece_id
       |  FROM firsts),
       |vocab AS MATERIALIZED (SELECT * FROM vchars UNION ALL SELECT * FROM learned),
       |-- ======== encode every distinct corpus word (q85's machinery) ========
       |mmap AS MATERIALIZED (
       |  SELECT map_from_entries(list(struct_pack(k := m_a || '|' || m_b,
       |    v := rank))) AS m FROM mg_t),
       |mgl AS MATERIALIZED (
       |  SELECT list(struct_pack(a := m_a, b := m_b) ORDER BY rank) AS l
       |  FROM mg_t),
       |-- merge state rides ON the rows (mm map, ml list): the recursion never
       |-- references a steps-derived CTE, which DuckDB would otherwise
       |-- re-evaluate (and re-run the training recursion) once per iteration
       |enc(word, s, mm, ml) AS (
       |  SELECT word, list_append(regexp_split_to_array(word, ''), '</w>'),
       |         mmap.m, mgl.l
       |  FROM allwords, mmap, mgl
       |  UNION ALL
       |  SELECT w2.word,
       |    list_filter([CASE WHEN (i >= 1 AND i < len(w2.s) AND w2.s[i] = w2.ma AND w2.s[i + 1] = w2.mb
       |      AND (((i - 1) - coalesce(list_max([j for j in generate_series(1, i - 1)
       |        if NOT (w2.s[j] = w2.ma AND w2.s[j + 1] = w2.mb)]), 0)) % 2 = 0))
       |                        THEN w2.s[i] || w2.s[i + 1]
       |                      WHEN i > 1 AND ((i - 1) >= 1 AND (i - 1) < len(w2.s) AND w2.s[(i - 1)] = w2.ma AND w2.s[(i - 1) + 1] = w2.mb
       |      AND ((((i - 1) - 1) - coalesce(list_max([j for j in generate_series(1, (i - 1) - 1)
       |        if NOT (w2.s[j] = w2.ma AND w2.s[j + 1] = w2.mb)]), 0)) % 2 = 0))
       |                        THEN NULL
       |                      ELSE w2.s[i] END
       |                 for i in generate_series(1, len(w2.s))],
       |                x -> x IS NOT NULL),
       |    w2.mm, w2.ml
       |  FROM (
       |    SELECT e.word, e.s, e.mm, e.ml,
       |      e.ml[CAST(coalesce(list_min([coalesce(
       |      map_extract(e.mm, e.s[i] || '|' || e.s[i + 1])[1], 1000000)
       |      for i in generate_series(1, len(e.s) - 1)]), 1000000) AS BIGINT) + 1]['a'] AS ma,
       |      e.ml[CAST(coalesce(list_min([coalesce(
       |      map_extract(e.mm, e.s[i] || '|' || e.s[i + 1])[1], 1000000)
       |      for i in generate_series(1, len(e.s) - 1)]), 1000000) AS BIGINT) + 1]['b'] AS mb,
       |      coalesce(list_min([coalesce(
       |      map_extract(e.mm, e.s[i] || '|' || e.s[i + 1])[1], 1000000)
       |      for i in generate_series(1, len(e.s) - 1)]), 1000000) AS minr
       |    FROM enc e
       |  ) w2
       |  WHERE w2.minr < 1000000
       |),
       |fin AS MATERIALIZED (
       |  SELECT e.word, e.s FROM enc e
       |  WHERE coalesce(list_min([coalesce(
       |      map_extract(e.mm, e.s[i] || '|' || e.s[i + 1])[1], 1000000)
       |      for i in generate_series(1, len(e.s) - 1)]), 1000000) = 1000000),
       |wpieces AS MATERIALIZED (
       |  SELECT word, generate_subscripts(s, 1) AS pp, unnest(s) AS piece
       |  FROM fin),
       |wids AS MATERIALIZED (
       |  SELECT wp.word, list(v.piece_id ORDER BY wp.pp) AS ids
       |  FROM wpieces wp JOIN vocab v ON wp.piece = v.piece
       |  GROUP BY 1),
       |-- ======== per-doc id arrays, placement, assembly, digest ========
       |dwords AS MATERIALIZED (
       |  SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS word
       |  FROM corpus),
       |docids AS MATERIALIZED (
       |  SELECT d.doc_id,
       |    flatten(list(w.ids ORDER BY d.pos)) AS piece_ids
       |  FROM dwords d JOIN wids w ON d.word = w.word
       |  GROUP BY 1),
       |doclen AS MATERIALIZED (
       |  SELECT doc_id, piece_ids, CAST(len(piece_ids) AS BIGINT) AS n
       |  FROM docids),
       |cum AS MATERIALIZED (
       |  SELECT doc_id, piece_ids, n,
       |    CAST(sum(n) OVER (ORDER BY doc_id) AS BIGINT) AS e
       |  FROM doclen),
       |placed AS MATERIALIZED (
       |  SELECT doc_id, piece_ids, n, e - n AS s, e FROM cum WHERE n > 0),
       |m AS MATERIALIZED (
       |  SELECT doc_id, piece_ids, s, e,
       |    unnest(generate_series(s // 512, (e - 1) // 512)) AS seq_id
       |  FROM placed),
       |slices AS MATERIALIZED (
       |  SELECT seq_id,
       |    greatest(s, seq_id * 512) - seq_id * 512 AS seq_off,
       |    least(e, (seq_id + 1) * 512) - greatest(s, seq_id * 512) AS n_toks,
       |    list_slice(piece_ids,
       |      greatest(seq_id * 512 - s, 0) + 1,
       |      greatest(seq_id * 512 - s, 0)
       |        + least(e, (seq_id + 1) * 512) - greatest(s, seq_id * 512)) AS ids
       |  FROM m)
       |SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       |  md5(string_agg(array_to_string(ids, ','), ',' ORDER BY seq_off))
       |    AS ids_hash
       |FROM slices GROUP BY 1""".stripMargin

  /** q85's oracle: the greedy rank-merge BPE encode replayed as a
    * recursive CTE over the literal merge table of [[FixedBpeModel]].
    * Per distinct word, the state is the pieces list; each step joins
    * the merge whose rank equals the minimum rank present among
    * adjacent pairs (map lookup over 'a|b' keys), and rewrites the
    * list with leftmost-NON-OVERLAPPING merge-all semantics — the
    * run-parity trick: a match position is merged iff an even number
    * of consecutive match positions immediately precede it (runs only
    * arise for self-pairs like (a,a) on "aaa"). Fixpoint rows (no
    * rank present) are each word's final encoding, reassembled per
    * document in word order.
    */
  private lazy val q85OracleSql: String = {
    val mergeRows = FixedBpeModel.merges.zipWithIndex
      .map { case ((a, b), r) => s"($r, '$a', '$b')" }.mkString(",\n")
    // leftmost-non-overlap keep test for match position `i` (1-based)
    // against pair (mg.a, mg.b) over list `sv`
    def kept(sv: String, i: String) =
      s"""($i >= 1 AND $i < len($sv) AND $sv[$i] = mg.a AND $sv[$i + 1] = mg.b
         |      AND ((($i - 1) - coalesce(list_max([j for j in
         |        generate_series(1, $i - 1)
         |        if NOT ($sv[j] = mg.a AND $sv[j + 1] = mg.b)]), 0)) % 2 = 0))""".stripMargin
    s"""WITH RECURSIVE mg_t(rank, a, b) AS (VALUES
       |$mergeRows),
       |mmap AS (SELECT map_from_entries(list(struct_pack(k := a || '|' || b,
       |    v := rank))) AS m FROM mg_t),
       |docs AS (SELECT doc_id,
       |    CASE WHEN text IS NULL OR trim(text) = ''
       |         THEN CAST([] AS VARCHAR[])
       |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS words
       |  FROM documents),
       |dw AS (SELECT DISTINCT unnest(words) AS word FROM docs),
       |enc(word, s) AS (
       |  SELECT word, list_append(regexp_split_to_array(word, ''), '</w>')
       |  FROM dw
       |  UNION ALL
       |  SELECT e.word,
       |    list_filter([CASE WHEN ${kept("e.s", "i")}
       |                        THEN e.s[i] || e.s[i + 1]
       |                      WHEN i > 1 AND ${kept("e.s", "(i - 1)")}
       |                        THEN NULL
       |                      ELSE e.s[i] END
       |                 for i in generate_series(1, len(e.s))],
       |                x -> x IS NOT NULL)
       |  FROM enc e, mmap, mg_t mg
       |  WHERE mg.rank = coalesce(list_min([coalesce(
       |      map_extract(mmap.m, e.s[i] || '|' || e.s[i + 1])[1], 1000000)
       |      for i in generate_series(1, len(e.s) - 1)]), 1000000)
       |),
       |fin AS (
       |  SELECT word, s FROM enc, mmap
       |  WHERE coalesce(list_min([coalesce(
       |      map_extract(mmap.m, s[i] || '|' || s[i + 1])[1], 1000000)
       |      for i in generate_series(1, len(s) - 1)]), 1000000) = 1000000),
       |wenc AS (SELECT word, array_to_string(s, ' ') AS enc_str,
       |    len(s) AS n_p FROM fin),
       |dwords AS (SELECT doc_id, i.range AS pos, words[i.range + 1] AS word
       |  FROM docs, range(400) i WHERE i.range < len(words)),
       |agg AS (
       |  SELECT d.doc_id, count(*) AS n_words,
       |    CAST(sum(w.n_p) AS BIGINT) AS n_pieces,
       |    string_agg(w.enc_str, ' ' ORDER BY d.pos) AS encoded
       |  FROM dwords d JOIN wenc w ON d.word = w.word
       |  GROUP BY 1)
       |SELECT docs.doc_id,
       |  CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
       |  CAST(coalesce(a.n_pieces, 0) AS BIGINT) AS n_pieces,
       |  coalesce(a.encoded, '') AS encoded
       |FROM docs LEFT JOIN agg a ON docs.doc_id = a.doc_id""".stripMargin
  }

  /** q92's oracle: q85's per-doc encode replay as a derived table
    * (DuckDB allows WITH RECURSIVE inside a subquery), joined back to
    * documents for source/n_chars and aggregated. The fertility and
    * chars-per-piece ratios divide exact BIGINT sums once, so the
    * doubles are bit-identical across engines.
    */
  private lazy val q92OracleSql: String =
    s"""SELECT d.source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(t.n_words) AS BIGINT) AS total_words,
       |  CAST(sum(t.n_pieces) AS BIGINT) AS total_pieces,
       |  round(CAST(sum(t.n_pieces) AS DOUBLE) / sum(t.n_words), 6)
       |    AS fertility,
       |  round(CAST(sum(d.n_chars) AS DOUBLE) / sum(t.n_pieces), 6)
       |    AS chars_per_piece
       |FROM (
       |$q85OracleSql
       |) t JOIN documents d USING (doc_id)
       |GROUP BY 1""".stripMargin

  /** CTEs `tok`, `cum`, `placed` shared by the q74, q75, q83 and q110
    * oracles.
    */
  private lazy val tokCumPlacedCtes: String =
    """WITH tok AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n
      |  FROM documents),
      |cum AS (
      |  SELECT doc_id, n, CAST(sum(n) OVER (ORDER BY doc_id) AS BIGINT) AS e
      |  FROM tok),
      |placed AS (SELECT doc_id, n, e - n AS s, e FROM cum WHERE n > 0),""".stripMargin

  /** Column expressions shared by the q75 and q83 oracles. */
  private lazy val seqSliceCols: String =
    """  SELECT m.seq_id,
      |    greatest(m.s, m.seq_id * 512) - m.seq_id * 512 AS seq_off,
      |    least(m.e, (m.seq_id + 1) * 512) - greatest(m.s, m.seq_id * 512)
      |      AS n_toks,
      |    array_to_string(list_slice(
      |      regexp_split_to_array(trim(d.text), '\s+'),
      |      greatest(m.seq_id * 512 - m.s, 0) + 1,
      |      greatest(m.seq_id * 512 - m.s, 0)
      |        + least(m.e, (m.seq_id + 1) * 512)
      |        - greatest(m.s, m.seq_id * 512)), ' ') AS piece""".stripMargin

  /** Column expressions shared by the q78 and q80 oracles. */
  private lazy val bestPairStepCols: String =
    """    st.cnt, bp.a, bp.b
      |  FROM steps st, (
      |    SELECT a, b, c FROM (
      |      SELECT s2.s[i] AS a, s2.s[i + 1] AS b, sum(s2.cnt) AS c
      |      FROM steps s2, unnest(generate_series(1, len(s2.s) - 1)) AS t(i)
      |      GROUP BY 1, 2
      |    ) ORDER BY c DESC, a, b LIMIT 1
      |  ) bp
      |  WHERE st.it < 100 AND bp.c >= 2""".stripMargin

  /** CTE `toks` and the final SELECT shared by the q124 and q133 oracles. */
  private lazy val toksTail: String =
    """toks AS (
      |  SELECT doc_id, generate_subscripts(t, 1) - 1 AS widx,
      |    unnest(t) AS w
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |        FROM documents))
      |SELECT tk.doc_id, count(*) AS n_words,""".stripMargin
}
