package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sequence packing — the step that turns a curated corpus into
  * fixed-length training sequences: concatenate every document's
  * tokens in a deterministic order and chop the stream into
  * `seqLen`-token windows (the "concatenate and chunk" regime of
  * GPT-style pretraining; documents may span window boundaries, and a
  * window may hold many short documents).
  *
  * The load-bearing primitive is a GLOBAL token prefix sum in id
  * order, computed by [[PrefixScan]] (never a one-partition
  * `Window.orderBy(id)`); the shuffle carries only (id, n_tokens).
  *
  * Every downstream shape is embarrassingly parallel: a doc spanning
  * token interval [s, e) lands in sequences s/L .. (e-1)/L via
  * sequence+explode (fan-out = ceil(doc_len/L) + 1 rows max), and
  * window assembly is one hash aggregation on seq_id.
  *
  * Reference anchor: the reference pipeline's transform stage emits
  * row-shaped JSON for consumers (`/root/reference/process_etl.py`);
  * packing is the corpus-scale analogue of that "reshape for the
  * downstream consumer" step for LM training.
  */
object Packing {

  /** Per-document token interval [tok_start, tok_end) in the global
    * id-ordered token stream. Zero-token docs cannot occur under
    * whitespace tokenization (an empty text still yields one empty
    * token — same convention as DuckDB's regexp_split_to_array, which
    * keeps the oracle exact); callers filtering tokens upstream get
    * correct intervals regardless.
    */
  def tokenOffsets(df: DataFrame, idCol: String, textCol: String): DataFrame =
    offsetsBy(df.select(col(idCol),
      size(TextAnalysis.tokens(col(textCol))).cast("long").as("n_tokens")),
      idCol)

  /** The prefix sum over an arbitrary non-negative integer cost
    * column named `n_tokens` — whitespace tokens are ONE cost model;
    * packing by characters (embedding-model chunking), bytes, or
    * learned-tokenizer piece counts ([[Bpe.encode]]'s `n_pieces`) is
    * the same placement problem with a different weight.
    */
  def offsetsBy(counted: DataFrame, idCol: String): DataFrame =
    offsetsOrdered(counted, Seq(col(idCol)))

  /** The same prefix sum under an ARBITRARY total order (`order`
    * must be total: include the id as the last key): placement by
    * priority instead of id, the primitive under budget-capped
    * selection ([[Sampling.tokenBudgetSelect]]). Caller columns pass
    * through beside the offsets.
    */
  def offsetsOrdered(counted: DataFrame, order: Seq[Column]): DataFrame =
    PrefixScan(counted, order, PrefixScan.RunningSum("n_tokens", "tok_end"))
      .rows.select(counted.columns.map(col) ++ Seq(
        (col("tok_end") - col("n_tokens")).as("tok_start"), col("tok_end")): _*)

  /** The packing MAP — which documents contribute which token slices
    * to which sequence. One row per (doc, sequence) intersection:
    * `seq_off` (where in the sequence the slice starts), `doc_off`
    * (where in the doc it starts), `n_toks` (slice length). This is
    * the scale-path artifact: it never materializes text, shuffles
    * only offsets, and is what a 100 TB run persists so that workers
    * can assemble their own shards.
    */
  def packCompositions(df: DataFrame, idCol: String, textCol: String,
                       seqLen: Int): DataFrame =
    compositionsFrom(tokenOffsets(df, idCol, textCol), idCol, seqLen)

  /** Composition map under any cost model: `counted` must carry
    * (idCol, n_tokens ≥ 0). Same slicing math, weight-agnostic.
    */
  def packCompositionsBy(counted: DataFrame, idCol: String,
                         seqLen: Int): DataFrame =
    compositionsFrom(offsetsBy(counted, idCol), idCol, seqLen)

  private def compositionsFrom(offsets: DataFrame, idCol: String,
                               seqLen: Int): DataFrame = {
    require(seqLen >= 1, "seqLen must be >= 1")
    val L = lit(seqLen.toLong)
    offsets
      .filter(col("n_tokens") > 0)
      .withColumn("seq_id", explode(sequence(
        (col("tok_start") / L).cast("long"),
        ((col("tok_end") - 1) / L).cast("long"))))
      .select(col(idCol), col("seq_id"),
        (greatest(col("tok_start"), col("seq_id") * L) - col("seq_id") * L)
          .as("seq_off"),
        greatest(col("seq_id") * L - col("tok_start"), lit(0L)).as("doc_off"),
        (least(col("tok_end"), (col("seq_id") + 1) * L)
          - greatest(col("tok_start"), col("seq_id") * L)).as("n_toks"))
  }

  /** Per-sequence document-BOUNDARY map — the sidecar a trainer needs
    * next to the packed token arrays to build block-diagonal attention
    * masks (and to trace any training token back to its source doc):
    * for each sequence, the in-order list of (start offset, doc id,
    * slice length) encoded as a canonical `off:doc:len;...` string
    * (engine-portable, hash-stable — no struct-array comparison
    * semantics to trip on).
    *
    * Scale shape: ONE aggregation over the composition map (offsets
    * only, text never moves); per-sequence state is bounded by
    * seqLen slices (every slice holds ≥ 1 token), so the collect_list
    * cannot blow up on any input.
    */
  def packBoundaries(df: DataFrame, idCol: String, textCol: String,
                     seqLen: Int): DataFrame =
    packCompositions(df, idCol, textCol, seqLen)
      .groupBy("seq_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_toks").as("n_tokens"),
        array_join(
          transform(
            sort_array(collect_list(struct(
              col("seq_off"), col(idCol).as("d"), col("n_toks").as("t")))),
            x => concat_ws(":", x.getField("seq_off"), x.getField("d"),
              x.getField("t"))),
          ";").as("bounds"))
      .select(col("seq_id"), col("n_docs"), col("n_tokens"), col("bounds"))

  /** Materialize packed sequences as TRAINING SHARDS: range-cluster
    * on seq_id into `shards` contiguous slices and commit to a
    * transactional snapshot table. Because each file then carries a
    * tight seq_id min/max in the manifest, a trainer fetching shard k
    * (a seq_id range) opens O(its files) — the same stats-pruning
    * contract every other snapshot consumer gets, plus time travel
    * and idempotent re-writes for free. This closes the
    * corpus→sequences→shards loop inside the engine.
    *
    * @return committed snapshot version
    */
  def writeShards(seqs: DataFrame, table: String, shards: Int): Int = {
    require(shards >= 1, "shards must be >= 1")
    // NO input persist here (unlike PrefixScan): packed
    // sequences carry the token-id arrays, and caching payload-bearing
    // rows ahead of the range exchange was measured SLOWER than letting
    // the sampling pass recompute (the q100/q102 writer A/B, r17) —
    // the block-store materialization of the payload costs more than
    // the second pass over the (shuffle-reused) assembly.
    val clustered = seqs
      .repartitionByRange(shards, col("seq_id"))
      .sortWithinPartitions("seq_id")
    graft.sources.SnapshotTable.append(clustered, table)
  }

  /** Assembled TOKEN-ID sequences — the artifact a trainer actually
    * consumes: feed [[Bpe.encodeIds]] output (idCol, piece_ids,
    * n_pieces) and get back (seq_id, n_docs, n_tokens, token_ids)
    * fixed-length id arrays, documents split across boundaries
    * exactly as the composition map dictates. Same shapes as the text
    * path: placement never moves ids, ids move once for the final
    * seq-keyed aggregation.
    */
  def packIdSequences(encoded: DataFrame, idCol: String,
                      seqLen: Int): DataFrame = {
    val comp = packCompositionsBy(
      encoded.select(col(idCol), col("n_pieces").as("n_tokens")),
      idCol, seqLen)
    comp.join(encoded.select(col(idCol), col("piece_ids")), Seq(idCol))
      .select(col("seq_id"), col("seq_off"),
        slice(col("piece_ids"), (col("doc_off") + 1).cast("int"),
          col("n_toks").cast("int")).as("ids"),
        col("n_toks"))
      .groupBy(col("seq_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_toks").as("n_tokens"),
        flatten(transform(
          array_sort(collect_list(struct(col("seq_off"), col("ids")))),
          s => s.getField("ids"))).as("token_ids"))
  }

  /** [[packIdSequences]] with a MATERIALIZED encode boundary: write
    * `encoded` once to a SnapshotTable at `table`, then pack from the
    * READ. Functionally identical output (PackingSpec pins it); the
    * difference is pure execution shape — packing consumes the encode
    * output twice (the placement pass and the assembly join), so the
    * in-line form re-runs the encode lineage per consumer while this
    * form pays one write and two columnar scans. At bench SF the
    * memoized CPU encode wins (see PLANS.md "q80 encode boundary");
    * at 100 TB — where the encode output doesn't fit memory and
    * recompute means re-reading the raw corpus — the written table is
    * the only shape that works, and THIS is the function a production
    * run calls.
    */
  def packIdSequencesMaterialized(encoded: DataFrame, table: String,
                                  idCol: String, seqLen: Int): DataFrame = {
    graft.sources.SnapshotTable.overwrite(encoded, table)
    packIdSequences(
      graft.sources.SnapshotTable.read(encoded.sparkSession, table),
      idCol, seqLen)
  }

  /** Length-grouped batching (a.k.a. dynamic batching): bucket
    * documents by token length, order each bucket longest-first and
    * cut fixed-size batches — the padded-batch counterpart of
    * [[packIdSequences]]'s concat-and-chunk regime (SFT/eval loaders
    * pad to the batch max instead of packing, and pad-token waste is
    * pure wasted FLOPs; grouping similar lengths minimizes it).
    *
    * Returns the ASSIGNMENT (id, len, bucket, batch, rank_in_bucket):
    * batch `b` of bucket `k` holds ranks [b·batchSize, (b+1)·batchSize).
    * Everything is exact integers under the total order
    * (bucket, len DESC, id) — callers aggregate padding accounting
    * relationally (see the q121 gate).
    *
    * Scale shape: a bucket can hold billions of rows, so rank-within-
    * bucket must NOT be a `Window.partitionBy(bucket)` (one task per
    * bucket = the skewed-window anti-pattern). The global rank comes
    * from the same [[PrefixScan]] as packing (a row rank under the
    * bucket-major total order) and the per-bucket rank is global
    * rank − the bucket's first rank — a #buckets-row broadcast.
    * The shuffle carries (id, len, bucket), never text.
    */
  def lengthBatches(counted: DataFrame, idCol: String, lenCol: String,
                    bucketWidth: Long, batchSize: Int): DataFrame = {
    require(bucketWidth >= 1 && batchSize >= 1,
      "lengthBatches needs positive bucketWidth and batchSize")
    val bucketed = counted
      .select(col(idCol), col(lenCol).cast("long").as("len"),
        expr(s"cast($lenCol as bigint) DIV ${bucketWidth}L").as("bucket"))
    val ranked = PrefixScan(bucketed,
      Seq(col("bucket"), col("len").desc, col(idCol)),
      PrefixScan.RowRank("__rank")).rows
    val starts = ranked.groupBy("bucket")
      .agg(min("__rank").as("__bstart"))
    ranked.join(broadcast(starts), Seq("bucket"))
      .select(col(idCol), col("len"), col("bucket"),
        (col("__rank") - col("__bstart")).as("rank_in_bucket"))
      .withColumn("batch", expr(s"rank_in_bucket DIV ${batchSize}L"))
      .select(col(idCol), col("len"), col("bucket"), col("batch"),
        col("rank_in_bucket"))
  }

  /** Per-batch padding accounting over a [[lengthBatches]] assignment:
    * (bucket, batch, n_docs, max_len, sum_len, pad_waste) where
    * pad_waste = max_len·n_docs − sum_len — the pad-token count a
    * loader padding to the batch max would feed the model.
    */
  def batchPadding(assign: DataFrame): DataFrame =
    assign.groupBy(col("bucket"), col("batch"))
      .agg(count(lit(1)).as("n_docs"),
        max("len").as("max_len"),
        sum("len").as("sum_len"))
      .withColumn("pad_waste",
        col("max_len") * col("n_docs") - col("sum_len"))

  /** Assembled fixed-length sequences: joins the composition map back
    * to the doc text (the map side carries offsets only until this
    * final join), slices each doc's contribution, and concatenates in
    * sequence order — one hash aggregation keyed on seq_id. The final
    * sequence of the corpus may be shorter than `seqLen` (`n_tokens`
    * makes that visible; padding policy belongs to the consumer).
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    seqLen: Int): DataFrame = {
    val comp = packCompositions(df, idCol, textCol, seqLen)
    val words = TextAnalysis.tokens(col(textCol))
    val pieces = comp.join(df.select(col(idCol), col(textCol)), Seq(idCol))
      .select(col("seq_id"), col("seq_off"), col("n_toks"),
        concat_ws(" ", slice(words, (col("doc_off") + 1).cast("int"),
          col("n_toks").cast("int"))).as("piece"))
    pieces.groupBy(col("seq_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_toks").as("n_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("seq_off"), col("piece")))),
          s => s.getField("piece"))).as("text"))
  }
}
