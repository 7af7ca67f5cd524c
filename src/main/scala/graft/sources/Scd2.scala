package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Materialize

/** Slowly-changing-dimension type 2 over a snapshot table — the
  * warehouse pattern that keeps FULL attribute history: every key
  * carries versioned rows (attrs, valid_from, valid_to, is_current),
  * a new attribute snapshot CLOSES the current row (valid_to = the
  * batch's effective date) and inserts the new version; an unchanged
  * snapshot does nothing (no-op rows must not spawn versions).
  *
  * Mechanics per batch: one conditional MERGE closes current rows of
  * CHANGED keys (key-envelope pruning — a day's keys rewrite O(that
  * day's files) of a key-clustered dimension), one append inserts the
  * new versions (changed + brand-new keys). Exactly-once: both
  * commits carry the caller's (writerId, batchVersion) watermark, so
  * a replay no-ops and a crash BETWEEN the two commits converges on
  * re-run (the close re-check no-ops, the insert lands).
  *
  * Point-in-time reads compose with [[graft.core.Joins]]' as-of join
  * or a plain `valid_from <= ts AND (valid_to IS NULL OR ts < valid_to)`
  * predicate — the q147 attribution shape against a versioned
  * dimension.
  */
object Scd2 {

  /** Apply one batch of per-key attribute snapshots.
    *
    * @param batch  one row per key (deduped on `key`, last wins):
    *               key, attr columns, and `effCol` (the snapshot's
    *               effective date/timestamp)
    * @param attrCols the tracked attribute columns — a version is
    *               opened only when one of THESE changed
    * @param writerId + batchVersion: idempotent-delivery scope
    */
  def upsertBatch(spark: SparkSession, table: String, batch: DataFrame,
                  key: String, attrCols: Seq[String], effCol: String,
                  writerId: String, batchVersion: Long): Int = Materialize.scope {
    require(attrCols.nonEmpty, "SCD2 needs at least one tracked attribute")
    val snap = Materialize.localCheckpoint(batch.dropDuplicates(key)
      .select((key +: attrCols).map(col) :+ col(effCol).as("valid_from"): _*)
      .withColumn("valid_to", lit(null).cast(
        batch.schema(effCol).dataType))
      .withColumn("is_current", lit(true)))
    val exists = SnapshotTable.currentVersion(table).isDefined
    val current =
      if (exists) SnapshotTable.read(spark, table).filter(col("is_current"))
      else snap.limit(0)
    val curAttrs = current.select(
      col(key) +: attrCols.map(c => col(c).as(s"__cur_$c")): _*)
    // presence is decided by semi/anti joins (exact even for all-null
    // attribute rows, which a null-attr comparison could not tell
    // apart from an absent key)
    val presentKeys = curAttrs.select(col(key)).distinct()
    val newKeys = snap.join(presentKeys, Seq(key), "left_anti")
    val changed = attrCols.map(c =>
      !(col(c) <=> col(s"__cur_$c"))).reduce(_ || _)
    val changedKeys = snap.join(curAttrs, Seq(key), "left")
      .join(presentKeys, Seq(key), "left_semi")
      .filter(changed)
      .select((key +: attrCols).map(col) :+ col("valid_from") :+
        col("valid_to") :+ col("is_current"): _*)
    val toInsert = Materialize.localCheckpoint(newKeys.unionByName(changedKeys))
    if (!exists) {
      SnapshotTable.appendIdempotent(toInsert, table,
        s"$writerId:insert", batchVersion)
        .getOrElse(SnapshotTable.currentVersion(table).get)
    } else {
      // close current rows of changed keys: conditional SET, matched
      // rows that are historical (not current) pass through unchanged
      val closeSrc = changedKeys.select(col(key), col("valid_from").as("eff"))
      if (!closeSrc.isEmpty)
        SnapshotTable.merge(spark, table, closeSrc, key,
          whenMatchedUpdate = Map(
            "valid_to" -> when(col("is_current"), col("_src.eff"))
              .otherwise(col("valid_to")),
            "is_current" -> when(col("is_current"), lit(false))
              .otherwise(col("is_current"))),
          whenNotMatchedInsert = false,
          txn = Map(s"$writerId:close" -> batchVersion))
      SnapshotTable.appendIdempotent(toInsert, table,
        s"$writerId:insert", batchVersion)
        .getOrElse(SnapshotTable.currentVersion(table).get)
    }
  }

  /** The dimension as of `ts`: exactly one row per key that existed. */
  def asOf(spark: SparkSession, table: String, ts: Column): DataFrame =
    SnapshotTable.read(spark, table)
      .filter(col("valid_from") <= ts &&
        (col("valid_to").isNull || ts < col("valid_to")))
}
