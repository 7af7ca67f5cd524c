package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` surface for wrapping custom
  * Catalyst expressions as user-facing Columns (Spark 4 removed the
  * public `new Column(expr)` constructor) and registering SQL
  * functions on an existing session.
  */
object GraftShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Runtime registration on any session (the driver hands us ITS
    * session, so extension-based injection isn't available there).
    */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")

  /** Analyzed logical plan of a DataFrame (for building custom
    * logical nodes over existing frames).
    */
  def logicalPlan(df: Dataset[_]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** The cache manager's entry for a plan equivalent to `df`'s (the
    * lookup `df.persist()` itself makes): it canonicalizes `df`'s plan
    * and compares it with every entry.
    */
  def cachedEntry(df: Dataset[_]): Option[execution.CachedData] =
    df.sparkSession.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[classic.Dataset[_]])

  /** Whether the cache manager already holds a plan equivalent to `df`'s. */
  def isCached(df: Dataset[_]): Boolean = cachedEntry(df).isDefined

  /** Whether `entry` was added by persisting `df` itself: the cache
    * manager keys a new entry by the very normalized plan of the
    * Dataset that persisted it.
    */
  def persistedBy(entry: execution.CachedData, df: Dataset[_]): Boolean =
    entry.plan eq df.asInstanceOf[classic.Dataset[_]].queryExecution.normalized

  /** The object that identifies `entry`'s cache: its builder, which
    * every copy of the entry's in-memory relation shares (`private[sql]`
    * type, so handed out as `AnyRef`).
    */
  def cacheId(entry: execution.CachedData): AnyRef =
    entry.cachedRepresentation.cacheBuilder

  /** The caches `plan` reads through in-memory relation leaves,
    * subqueries included: each one's [[cacheId]] and the plan the cache
    * is computed from.
    */
  def cacheLeaves(plan: catalyst.plans.logical.LogicalPlan)
      : Seq[(AnyRef, catalyst.plans.logical.LogicalPlan)] =
    plan.collectWithSubqueries {
      case r: execution.columnar.InMemoryRelation =>
        (r.cacheBuilder, r.cacheBuilder.logicalPlan)
    }

  /** `df` as a DataFrame whose plan is one leaf: `entry`'s in-memory
    * relation, carrying `df`'s output attributes (the substitution
    * `QueryExecution.withCachedData` makes for a cached sub-plan).
    */
  def cachedLeaf(df: Dataset[_], entry: execution.CachedData): DataFrame =
    ofRows(df.sparkSession,
      entry.cachedRepresentation.withOutput(df.queryExecution.analyzed.output))

  /** Entries in the session's cache manager (`private[sql]` there). */
  def numCachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries

  /** The physical plan with the AQE wrapper unwrapped (its INITIAL
    * plan — runtime re-optimization can only merge/coalesce, never
    * introduce a new unpartitioned window), for plan-shape regression
    * tests that inspect operator nodes rather than plan strings.
    */
  def physicalPlan(df: Dataset[_]): org.apache.spark.sql.execution.SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }

  /** DataFrame from a custom logical plan. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Fork of the session with an isolated copy of the session state
    * (confs, temp views) sharing the same SparkContext. Lets a write
    * path pin a session conf (e.g. parquet output timestamp type)
    * without mutating — or racing — the caller's session.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** The session's Hadoop conf: the SparkContext's (already parsed)
    * conf plus the session's `spark.hadoop.*` overrides.
    */
  def hadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.sessionState.newHadoopConf()

  /** DataFrame over an EXPLICIT parquet file list with KNOWN sizes:
    * the caller's (manifest-derived) file index is handed to the
    * planner as-is, so planning performs ZERO storage round-trips —
    * `spark.read.parquet(paths*)` stats every path to build its
    * InMemoryFileIndex, which is O(files) driver I/O (measured
    * ~1.7 ms/file: 16.7 s to merely PLAN a 10k-file read). This is how
    * Delta/Iceberg natively plan scans: the transaction log already
    * knows every file's size. Split planning, column pruning, filter
    * pushdown and AQE stats (sizeInBytes = manifest sum) all behave
    * exactly as with a listed index.
    *
    * When Spark's own split planning (`FilePartition.maxSplitBytes`,
    * `getFilePartitions`) packs the files into ONE partition, the read
    * comes back as `coalesce(1)`: the scan is one task either way, and
    * the coalesce reports `SinglePartition`, so aggregates, windows and
    * joins above it plan no exchange (AQE would shrink each of those
    * shuffles to one task anyway, one stage boundary per operator).
    */
  def manifestParquet(spark: SparkSession,
                      files: Seq[(String, Long)],
                      schema: types.StructType): DataFrame = {
    import org.apache.spark.sql.execution.datasources._
    val statuses = fileStatuses(spark, files)
    val index = new FileIndex {
      override def rootPaths: Seq[org.apache.hadoop.fs.Path] =
        statuses.map(_.getPath)
      override def listFiles(
          partitionFilters: Seq[Expression],
          dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
        Seq(PartitionDirectory(
          org.apache.spark.sql.catalyst.InternalRow.empty, statuses.toArray))
      override def inputFiles: Array[String] =
        statuses.map(_.getPath.toString).toArray
      override def refresh(): Unit = ()
      override def sizeInBytes: Long = files.map(_._2).sum
      override def partitionSchema: types.StructType = new types.StructType()
    }
    // file-based reads always relax the schema to nullable (a file
    // written before an appended column must project it as null) —
    // DataSource.resolveRelation does this for spark.read; a direct
    // relation must do it itself
    val relation = HadoopFsRelation(index, new types.StructType(),
      schema.asNullable, None, new parquet.ParquetFileFormat(), Map.empty)(
      spark.asInstanceOf[classic.SparkSession])
    val df = ofRows(spark, LogicalRelation(relation, isStreaming = false))
    if (filePartitions(spark, statuses) == 1) df.coalesce(1) else df
  }

  /** The manifest's (path, length) list as qualified `FileStatus`es,
    * shared by both manifest indexes. Qualified through the filesystem
    * (`file:/…` locally): `PartitioningAwareFileIndex` qualifies root
    * paths before looking them up in `leafFiles`, so an unqualified
    * status would miss every lookup and the scan would silently read
    * nothing. ONE FileSystem resolution for the whole list (a
    * synchronized cache lookup per file would serialize 1M-file
    * planning); table files share a filesystem by construction.
    */
  private def fileStatuses(spark: SparkSession, files: Seq[(String, Long)])
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    import org.apache.hadoop.fs.{FileStatus, Path => HPath}
    val fs = files.headOption.map { case (p, _) =>
      new HPath(p).getFileSystem(spark.sessionState.newHadoopConf()) }
    files.map { case (p, len) =>
      new FileStatus(len, false, 1, 134217728L, 0L, fs.get.makeQualified(new HPath(p)))
    }
  }

  /** The number of partitions a file scan over `statuses` plans, by the
    * same calls `FileSourceScanExec` makes (parquet is splittable).
    */
  private def filePartitions(spark: SparkSession,
                             statuses: Seq[org.apache.hadoop.fs.FileStatus]): Int = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.execution.PartitionedFileUtil
    import org.apache.spark.sql.execution.datasources._
    val files = statuses.map(FileStatusWithMetadata(_, Map.empty))
    val maxSplit = FilePartition.maxSplitBytes(spark,
      Seq(PartitionDirectory(InternalRow.empty, files)))
    val splits = files.flatMap(f => PartitionedFileUtil.splitFiles(f,
      f.getPath, isSplitable = true, maxSplit, InternalRow.empty))
      .sortBy(-_.length)
    FilePartition.getFilePartitions(spark, splits, maxSplit).size
  }

  /** Drain the async SparkListener bus (it is `private[spark]`) — for
    * tests that count jobs via a listener: a fixed sleep undercounts
    * under load, while a drain is exact.
    */
  def drainListenerBus(spark: SparkSession, timeoutMs: Long): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)

  /** Listeners registered on the bus — lets a spec check that a
    * profiler removed the listener it added.
    */
  def listenerCount(spark: SparkSession): Int =
    spark.sparkContext.listenerBus.listeners.size

  /** [[manifestParquet]]'s index as the RICHER
    * `PartitioningAwareFileIndex` the DSv2 `ParquetScanBuilder`
    * requires — same zero-storage-round-trip contract: leaf files and
    * their lengths come straight from the caller's manifest, no
    * listing, no per-file stat. The V1 index stays a plain `FileIndex`:
    * this class re-qualifies its paths on every listing call.
    */
  def manifestFileIndex(spark: SparkSession, files: Seq[(String, Long)])
      : org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex = {
    import org.apache.spark.sql.execution.datasources._
    import org.apache.hadoop.fs.{FileStatus, Path => HPath}
    val statuses = fileStatuses(spark, files)
    new PartitioningAwareFileIndex(spark, Map.empty, None, NoopCache) {
      // planning calls these accessors repeatedly — build both
      // collections ONCE (O(files) per call would tax exactly the
      // large-table path this index exists to speed up)
      private val cachedLeafFiles = {
        val m = scala.collection.mutable.LinkedHashMap.empty[HPath, FileStatus]
        statuses.foreach(s => m += (s.getPath -> s))
        m
      }
      private val cachedDirToChildren: Map[HPath, Array[FileStatus]] =
        statuses.groupBy(_.getPath.getParent).view.mapValues(_.toArray).toMap
      override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec
      override def leafFiles
          : scala.collection.mutable.LinkedHashMap[HPath, FileStatus] =
        cachedLeafFiles
      override def leafDirToChildrenFiles: Map[HPath, Array[FileStatus]] =
        cachedDirToChildren
      override def rootPaths: Seq[HPath] = statuses.map(_.getPath)
      override def refresh(): Unit = ()
    }
  }
}
