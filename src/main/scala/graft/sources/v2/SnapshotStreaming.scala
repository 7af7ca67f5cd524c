package graft.sources.v2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, Statistics}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.read.SupportsReportStatistics
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.SnapshotTable

/** The Scan handed to Spark: batch execution delegates wholesale to
  * the inner [[ParquetScan]] over the manifest-pruned file list;
  * streaming execution tails the manifest log version by version
  * ([[SnapshotMicroBatchStream]]).
  */
private[graft] case class SnapshotScan(spark: SparkSession, table: String,
                                    tableSchema: StructType,
                                    options: CaseInsensitiveStringMap,
                                    inner: ParquetScan)
    extends Scan with Batch with SupportsReportStatistics
    with org.apache.spark.sql.internal.connector.SupportsMetadata {

  override def readSchema(): StructType = inner.readSchema()
  override def description(): String = inner.description()
  override def getMetaData(): Map[String, String] = inner.getMetaData()
  override def estimateStatistics(): Statistics = inner.estimateStatistics()

  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    inner.toBatch.planInputPartitions()
  override def createReaderFactory(): PartitionReaderFactory =
    inner.toBatch.createReaderFactory()

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new SnapshotMicroBatchStream(spark, table, tableSchema, options)
}

private[v2] case class VersionOffset(version: Int) extends Offset {
  override def json(): String = version.toString
}

/** Micro-batch stream over a snapshot table's commit log: offset =
  * manifest version; each batch reads exactly the data files that
  * joined the snapshot in versions (start, end] — the same file-diff
  * contract as [[SnapshotTable.readChanges]] (append-only tables
  * stream their rows exactly once; compaction/upsert rewrites reappear,
  * documented there). Offsets live in the query checkpoint, so a
  * restarted query resumes from its last committed version — manifests
  * are immutable, making every batch deterministically replayable.
  *
  * `option("startingVersion", n)` begins at commit n (default 0);
  * `option("startingVersion", "latest")` streams only commits made
  * after the query starts.
  */
private[v2] class SnapshotMicroBatchStream(spark: SparkSession, table: String,
                                           tableSchema: StructType,
                                           options: CaseInsensitiveStringMap)
    extends MicroBatchStream {

  override def initialOffset(): Offset = {
    val opt = Option(options.get("startingVersion")).getOrElse("0")
    if (opt == "latest")
      VersionOffset(SnapshotTable.currentVersion(table).getOrElse(-1))
    else VersionOffset(opt.toInt - 1)
  }

  override def latestOffset(): Offset =
    VersionOffset(SnapshotTable.currentVersion(table).getOrElse(-1))

  override def deserializeOffset(json: String): Offset = VersionOffset(json.toInt)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[VersionOffset].version
    val e = end.asInstanceOf[VersionOffset].version
    if (e <= s) return Array.empty
    val files = SnapshotTable.addedPathsBetween(table, s, e)
    if (files.isEmpty) Array.empty
    else parquetScan(files).toBatch.planInputPartitions()
  }

  // one factory serves every batch: the parquet reader factory is
  // schema+conf-bound, not file-bound (partitions carry the files)
  override def createReaderFactory(): PartitionReaderFactory =
    parquetScan(Nil).toBatch.createReaderFactory()

  private def parquetScan(files: Seq[(String, Long)]): ParquetScan =
    SnapshotDataSource.parquetScanBuilder(spark, files, tableSchema, options).build()

  override def commit(end: Offset): Unit = () // checkpoint-managed

  override def stop(): Unit = ()
}
