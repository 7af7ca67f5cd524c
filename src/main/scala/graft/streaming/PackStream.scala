package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Materialize, Packing}
import graft.sources.SnapshotTable

/** Continuous sequence packing — the streaming face of the q80
  * flagship's final stage: encoded documents arrive in micro-batches
  * and fixed-length token-id training sequences come out, numbered
  * contiguously across batches, with the open partial sequence (the
  * "tail") carried BETWEEN batches as table state.
  *
  * Design:
  *  - State lives in the SAME snapshot table as the output: `seq`
  *    rows are finished sequences, the single latest `tail` row is
  *    the open remainder (token ids + owning doc ids, in order).
  *    No executor state store — restart-safe, inspectable, and batch
  *    consumers read the identical table.
  *  - Each micro-batch commits sequences AND its new tail in ONE
  *    idempotent append ([[SnapshotTable.appendIdempotent]] keyed by
  *    batch id), so a replayed batch — Structured Streaming's crash
  *    contract — is a FULL no-op: exactly-once without a two-table
  *    coordination problem.
  *  - Within a batch the placement is [[Packing.offsetsBy]]'s
  *    two-phase distributed prefix sum; only (id, pos) pairs and the
  *    token ids that complete sequences shuffle. The tail is at most
  *    seqLen-1 tokens — one bounded row, never a driver loop.
  *
  * Fed doc-id-ordered batches, the emitted sequences are IDENTICAL to
  * the batch [[Packing.packIdSequences]] over the concatenated corpus,
  * with ONE semantic delta: the batch form emits its trailing partial
  * sequence, the stream holds it as the tail (more data may still
  * arrive). PackStreamSpec pins both, which makes the streaming form
  * a drop-in continuation of a batch bootstrap: pack the historical
  * corpus in batch, then stream the daily increment into the same
  * table.
  */
object PackStream {

  val Writer = "pack-stream"

  /** Manifest txn key holding the STRICTLY MONOTONE commit counter:
    * rows of commit k carry `commit_seq = k`, so recovery prunes to
    * exactly the last commit's files by `commit_seq == pointer` — a
    * discriminator `batch_id` cannot be, because stream batch ids
    * RESET to 0 on a fresh checkpoint and collide with the history.
    */
  val CommitSeqKey = "pack-stream-commit-seq"

  private def emptyTail(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("pos"), col("id").as("token_id"),
      col("id").as("doc_id"))

  /** Pack one micro-batch of encoded docs (idCol, piece_ids) into
    * `table`. Call from `foreachBatch`; `batchId` must be the stream's
    * monotone batch id.
    *
    * Per-batch driver work is TWO actions regardless of table size:
    * the single state-recovery aggregate ([[recoverState]] — confined
    * to the last commit's files in steady state) and the idempotent
    * append itself. The sequence cut is computed in-plan from a
    * broadcast one-row total, not with a count action, and the batch
    * runs in one [[Materialize.scope]], so every per-batch cache (the
    * union of positioned tokens, the prefix-sum intermediates inside
    * [[Packing.offsetsBy]]) is released before returning — a
    * long-running stream holds no cached blocks between batches.
    *
    * @param writerId idempotence scope (the Delta txnAppId contract).
    *                  A stream RESTARTED FROM A FRESH CHECKPOINT must
    *                  pass a new writer id — its batch ids restart at
    *                  0, and under the old id they would all be
    *                  skipped as replays. Recovery itself is
    *                  writer-agnostic (see [[recoverState]]).
    */
  def packBatch(batch: DataFrame, table: String, seqLen: Int,
                batchId: Long, idCol: String = "doc_id",
                writerId: String = Writer): Unit = {
    val spark = batch.sparkSession
    // replay probe: the whole batch landed (or not) as one commit
    val already = SnapshotTable.currentVersion(table).exists(v =>
      SnapshotTable.txnVersions(table, v).get(writerId).exists(_ >= batchId))
    if (already) return

    // next value of the monotone commit counter (0 on a fresh table);
    // single sequential pack writer by design, so read-then-commit is
    // race-free for this key
    val commitSeq = SnapshotTable.currentVersion(table)
      .flatMap(v => SnapshotTable.txnVersions(table, v).get(CommitSeqKey))
      .map(_ + 1L).getOrElse(0L)

    Materialize.scope {
      val (tailToks, nOpen, nextSeq) = recoverState(spark, table)

      val counted = batch.select(col(idCol).cast("long").as("doc_id"),
        col("piece_ids"), size(col("piece_ids")).cast("long").as("n_tokens"))
      val offs = Packing.offsetsBy(
        counted.select(col("doc_id"), col("n_tokens")), "doc_id")
      val batchToks = counted.join(offs, Seq("doc_id"))
        .select(col("doc_id"), col("tok_start"),
          posexplode(col("piece_ids")).as(Seq("i", "token_id")))
        .select(col("doc_id"),
          (lit(nOpen) + col("tok_start") + col("i")).as("pos"), col("token_id"))

      // every positioned token of this batch (carried tail + new),
      // persisted: the total, the sequence branch, and the tail branch
      // each scan it once inside the SINGLE append action
      val all = Materialize.persist(tailToks.select("pos", "token_id", "doc_id")
        .unionByName(batchToks.select("pos", "token_id", "doc_id")))
      // pos is dense 0..n-1, so the token total is max(pos)+1 — derived
      // in-plan via a broadcast one-row frame instead of a driver count
      val tot = all.agg((coalesce(max(col("pos")), lit(-1L)) + 1L).as("_total"))
      val withCut = all.crossJoin(broadcast(tot))
        .withColumn("_cut", (col("_total") / seqLen).cast("long") * lit(seqLen.toLong))

      val seqs = withCut.filter(col("pos") < col("_cut"))
        .withColumn("sl", (col("pos") / seqLen).cast("long"))
        .groupBy(col("sl"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_tokens"),
          transform(array_sort(collect_list(struct(col("pos"), col("token_id")))),
            s => s.getField("token_id")).as("token_ids"))
        .select((lit(nextSeq) + col("sl")).as("seq_id"),
          lit("seq").as("kind"), lit(batchId).as("batch_id"),
          lit(commitSeq).as("commit_seq"),
          col("n_docs"), col("n_tokens"), col("token_ids"),
          lit(null).cast("array<bigint>").as("doc_ids"))

      // the new tail: one bounded row (< seqLen tokens), re-based to 0.
      // Conditional aggregates over the UNfiltered token set so the row
      // exists even when the tail is empty; its seq_id field carries the
      // NEXT sequence id, which is what lets recovery read one row
      // instead of aggregating every seq row ever written.
      val tailStruct = when(col("pos") >= col("_cut"),
        struct(col("pos"), col("token_id"), col("doc_id")))
      val tail = withCut
        .agg(
          coalesce(sum(when(col("pos") >= col("_cut"), 1L)), lit(0L))
            .as("n_tokens"),
          countDistinct(when(col("pos") >= col("_cut"), col("doc_id")))
            .as("n_docs"),
          transform(array_sort(collect_list(tailStruct)),
            s => s.getField("token_id")).as("token_ids"),
          transform(array_sort(collect_list(tailStruct)),
            s => s.getField("doc_id")).as("doc_ids"),
          first(col("_cut")).as("_cutv"))
        .select(
          (lit(nextSeq) +
            coalesce((col("_cutv") / seqLen).cast("long"), lit(0L)))
            .as("seq_id"),
          lit("tail").as("kind"), lit(batchId).as("batch_id"),
          lit(commitSeq).as("commit_seq"),
          col("n_docs"), col("n_tokens"), col("token_ids"), col("doc_ids"))

      SnapshotTable.appendIdempotent(seqs.unionByName(tail), table,
        writerId, batchId, Map(CommitSeqKey -> commitSeq))
      ()
    }
  }

  /** State recovery for [[packBatch]]: (carried tail tokens as (pos,
    * token_id, doc_id) rows, open-token count, next sequence id) in
    * ONE driver action.
    *
    * The pruning pointer is the manifest's own [[CommitSeqKey]] txn
    * watermark — the strictly monotone commit counter whose value the
    * commit's rows carry in their `commit_seq` column — so the read
    * prunes to EXACTLY the last commit's files UNCONDITIONALLY:
    * contiguous steady state, fresh-checkpoint restarts (stream batch
    * ids reset to 0 under a new writer id, but the counter never
    * resets), and multi-restart histories all take the O(one commit)
    * path. The latest tail row then carries the seq high-water mark in
    * its `seq_id` field. Only a table with no recorded pointer at all
    * (written before the counter existed) falls back to the same
    * single aggregate over the full table, where max(seq_id) over the
    * seq rows recovers the high-water mark — a legacy-table cost,
    * never the steady state.
    */
  private def recoverState(spark: SparkSession,
                           table: String): (DataFrame, Long, Long) = {
    val cur = SnapshotTable.currentVersion(table)
    if (cur.isEmpty) return (emptyTail(spark), 0L, 0L)

    def stateOf(t: DataFrame): org.apache.spark.sql.Row =
      t.agg(
        max(when(col("kind") === "seq", col("seq_id"))).as("hi_seq"),
        max_by(
          struct(col("n_tokens"), col("token_ids"), col("doc_ids"),
            col("seq_id")),
          when(col("kind") === "tail", col("batch_id"))).as("tl"))
        .collect()(0)

    val pointer: Option[Long] =
      SnapshotTable.txnVersions(table, cur.get).get(CommitSeqKey)
    val pruned = pointer.map(p =>
      stateOf(SnapshotTable.read(spark, table,
        prune = Seq(SnapshotTable.ColRange("commit_seq",
          lower = Some(p), upper = Some(p))))))
    val st = pruned match {
      case Some(p) if !p.isNullAt(1) && !p.getStruct(1).isNullAt(3) => p
      case _ => stateOf(SnapshotTable.read(spark, table))
    }

    val hiSeq = if (st.isNullAt(0)) None else Some(st.getLong(0))
    val tl = if (st.isNullAt(1)) None else Some(st.getStruct(1))
    val (toks, nOpen) = tl match {
      case Some(r) if !r.isNullAt(1) && r.getLong(0) > 0 =>
        val ids = r.getSeq[Long](1)
        val docs = r.getSeq[Long](2)
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(
            ids.indices.map(i => (i.toLong, ids(i), docs(i))), 1))
          .toDF("pos", "token_id", "doc_id")
        (df, r.getLong(0))
      case _ => (emptyTail(spark), 0L)
    }
    val nextSeq = tl.filter(r => !r.isNullAt(3)).map(_.getLong(3))
      .getOrElse(hiSeq.map(_ + 1L).getOrElse(0L))
    (toks, nOpen, nextSeq)
  }

  /** The packed training sequences committed so far. */
  def sequences(spark: SparkSession, table: String): DataFrame =
    SnapshotTable.read(spark, table).filter(col("kind") === "seq")
      .select(col("seq_id"), col("n_docs"), col("n_tokens"), col("token_ids"))

  /** The current open tail (latest `tail` row). */
  def tail(spark: SparkSession, table: String): DataFrame =
    SnapshotTable.read(spark, table).filter(col("kind") === "tail")
      .orderBy(col("batch_id").desc).limit(1)
      .select(col("n_docs"), col("n_tokens"), col("token_ids"), col("doc_ids"))
}
