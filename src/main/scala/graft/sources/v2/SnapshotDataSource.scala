package graft.sources.v2

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.catalog.SupportsWrite
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.SnapshotTable
import graft.sources.SnapshotTable.ColRange

/** DataSource V2 connector for [[graft.sources.SnapshotTable]] —
  * `spark.read.format("graft-snapshot").load(path)` plugs the
  * snapshot format into Catalyst's planner instead of going through
  * the manual `SnapshotTable.read` API:
  *
  *  - **file-level data skipping from pushed predicates**: filters
  *    arrive through `SupportsPushDownCatalystFilters`, are translated
  *    into manifest [[ColRange]]s, and prune the file list BEFORE the
  *    scan's file index exists — a point query on a clustered column
  *    plans O(matching files) input partitions, never O(table). This
  *    is the connector-level contract Delta/Iceberg implement; at
  *    100 TB it is the difference between a metadata lookup and a
  *    full scan;
  *  - **delegated parquet execution**: the surviving files feed
  *    Spark's own `ParquetScanBuilder`, so vectorized reads, row-group
  *    statistics skipping, column pruning (`ReadSchema`), footer
  *    MIN/MAX/COUNT aggregate pushdown and
  *    `SupportsReportStatistics` (size estimates that drive AQE
  *    broadcast decisions) all behave exactly like a native parquet
  *    scan — the manifest only decides WHICH files participate;
  *  - **time travel** via `.option("version", n)` — same versions the
  *    programmatic reader sees.
  *
  * Predicate → range translation is conservative: only
  * attribute-vs-literal comparisons (`=`, `<`, `<=`, `>`, `>=`, `IN`,
  * and conjunctions) on primitive columns prune; everything else
  * keeps every file. ALL predicates are reported back to Spark as
  * residual (the same best-effort contract as stock parquet), so a
  * translation gap can never drop rows.
  *
  * Reference analogue: the reference's point-query endpoints
  * (`/root/reference/function-app/data_analytics_api.py:68`) rely on
  * Cosmos partition-key pruning; here the same queries prune through
  * manifest stats at plan time.
  */
class SnapshotDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-snapshot"

  // writes hand the incoming frame's schema to getTable directly (a
  // first write DEFINES the schema; an evolving append carries its own)
  override def supportsExternalMetadata(): Boolean = true

  private def tablePath(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-snapshot needs a table path: spark.read.format(\"graft-snapshot\").load(path)"))

  private def tableVersion(options: CaseInsensitiveStringMap): Option[Int] =
    Option(options.get("version")).map(_.toInt)

  // Spark instantiates the provider per load and calls inferSchema,
  // then getTable, on that instance: the snapshot the schema came from
  // is the one the table scans
  private var inferred: Option[SnapshotTable.Snapshot] = None

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val snap = SnapshotTable.pin(tablePath(options), tableVersion(options))
    inferred = Some(snap)
    // a not-yet-created table has no schema: report empty so a WRITE
    // can proceed (the insert defines the schema); a read of an empty
    // table fails at scan time with the clear no-committed-version error
    SnapshotDataSource.nullableCopy(snap.physicalSchema)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val path = tablePath(opts)
    new SnapshotV2Table(path, tableVersion(opts),
      SnapshotDataSource.nullableCopy(schema), inferred.filter(_.table == path))
  }
}

object SnapshotDataSource {
  import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField}

  /** Evolved snapshots read files that PREDATE some columns, so every
    * column must be nullable from the reader's perspective (the same
    * normalization v1 applies to user-specified schemas) — the
    * vectorized parquet reader refuses a missing column whose read
    * schema says required.
    */
  private[v2] def nullableCopy(s: StructType): StructType = {
    def loop(dt: DataType): DataType = dt match {
      case st: StructType =>
        StructType(st.fields.map(f => StructField(f.name, loop(f.dataType), nullable = true, f.metadata)))
      case at: ArrayType => ArrayType(loop(at.elementType), containsNull = true)
      case mt: MapType => MapType(loop(mt.keyType), loop(mt.valueType), valueContainsNull = true)
      case other => other
    }
    loop(s).asInstanceOf[StructType]
  }

  /** Spark's own parquet scan over `files` (absolute path, byte size),
    * indexed from the manifest: the batch read and every streaming
    * micro-batch go through here.
    */
  private[v2] def parquetScanBuilder(spark: SparkSession, files: Seq[(String, Long)],
                                     schema: StructType,
                                     options: CaseInsensitiveStringMap): ParquetScanBuilder =
    ParquetScanBuilder(spark, org.apache.spark.sql.GraftShim.manifestFileIndex(spark, files),
      schema, schema, options)
}

/** `resolved` is the snapshot `tableSchema` was read from, when there
  * is one; every scan of this table reads that one snapshot (resolved
  * at the first scan otherwise — a write never resolves it), so an
  * unversioned DataFrame keeps reading the version it was loaded at.
  */
private[v2] class SnapshotV2Table(path: String, version: Option[Int],
                                  tableSchema: StructType,
                                  resolved: Option[SnapshotTable.Snapshot] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  private lazy val snapshot = resolved.getOrElse(SnapshotTable.pin(path, version))

  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f => FilterColumns.toColumn(f).isDefined)

  /** `DELETE FROM <catalog>.<table> WHERE ...` — compiles the pushed
    * filters back to a Column and runs the stat-pruned copy-on-write
    * delete; an empty filter set truncates (rewrites to empty).
    */
  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    import org.apache.spark.sql.functions.lit
    val cond = filters.flatMap(FilterColumns.toColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    SnapshotTable.delete(SparkSession.active, path, cond)
    ()
  }

  override def name(): String =
    s"graft_snapshot.`$path`" + version.map(v => s"@v$v").getOrElse("")

  override def schema(): StructType = tableSchema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  /** Scans see the PHYSICAL schema ([[SnapshotTable.schemaOf]]), so a
    * renamed table would silently show its old column names — rejected
    * loudly instead, like `SnapshotTable.merge`.
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val mapping = snapshot.mapping
    require(mapping.isEmpty,
      s"reading a column-mapped table through graft-snapshot is not supported " +
        s"yet ($path renames ${mapping.keys.toSeq.sorted.mkString(", ")}) - " +
        "use SnapshotTable.read")
    new SnapshotScanBuilder(SparkSession.active, snapshot, tableSchema, options)
  }

  /** Write path via the V1Write bridge: the insert maps straight onto
    * the format's transactional commits — `append` (blind-append with
    * conflict retry + additive schema evolution) or `overwrite`
    * (truncate-and-replace as a new snapshot version). Data files are
    * written by the cluster exactly as in the programmatic API; only
    * the manifest publish is driver-side, O(files), put-if-absent.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          (data: org.apache.spark.sql.DataFrame, ov: Boolean) =>
            if (overwrite || ov) SnapshotTable.overwrite(data, path)
            else SnapshotTable.append(data, path)
      }
    }
}

/** Two-stage scan builder: pushed filters first prune the MANIFEST
  * (choosing the files), then the inner [[ParquetScanBuilder]] over
  * the survivors handles everything file-format-level. The inner
  * builder is created lazily at the first call that needs it —
  * Catalyst pushes filters before aggregates and column pruning, so
  * the file list is settled by then.
  */
private[v2] class SnapshotScanBuilder(spark: SparkSession,
                                      snapshot: SnapshotTable.Snapshot,
                                      tableSchema: StructType,
                                      options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownCatalystFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private var filterExprs: Seq[Expression] = Nil
  private var inner: ParquetScanBuilder = _

  private def ensureInner(): ParquetScanBuilder = {
    if (inner == null) {
      require(snapshot.exists, s"no committed version in ${snapshot.table}")
      val ranges = SnapshotPredicates.ranges(filterExprs)
      // equality/IN probes additionally consult manifest blooms — the
      // SQL path gets the q122 plan-time file skipping transparently
      val probes = SnapshotPredicates.probes(filterExprs)
      // manifest-built index: zero storage round-trips at plan time,
      // the programmatic read()'s contract
      inner = SnapshotDataSource.parquetScanBuilder(spark,
        snapshot.sizedFiles(ranges, probes), tableSchema, options)
      if (filterExprs.nonEmpty) inner.pushFilters(filterExprs)
    }
    inner
  }

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    filterExprs = filters
    // delegating AFTER recording: ensureInner prunes files with these
    // filters, then forwards them for parquet row-group skipping; the
    // inner builder's residual (all data filters, best-effort contract)
    // is our residual
    ensureInner()
    filters
  }

  override def pushedFilters(): Array[Predicate] =
    if (inner == null) Array.empty[Predicate] else inner.pushedFilters

  override def pruneColumns(requiredSchema: StructType): Unit =
    ensureInner().pruneColumns(requiredSchema)

  override def pushAggregation(aggregation: Aggregation): Boolean =
    ensureInner().pushAggregation(aggregation)

  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    ensureInner().supportCompletePushDown(aggregation)

  override def build(): Scan =
    SnapshotScan(spark, snapshot.table, tableSchema, options, ensureInner().build())
}

/** Catalyst predicate → manifest [[ColRange]] translation. Strict
  * comparisons translate to their inclusive envelope (file pruning
  * only needs "might contain"); `IN` to the min/max envelope of its
  * literals. Unsupported shapes translate to nothing — never wrong,
  * just non-pruning.
  */
private[graft] object SnapshotPredicates {

  private def litVal(e: Expression): Option[Any] = e match {
    case Literal(v: Byte, _) => Some(v.toLong)
    case Literal(v: Short, _) => Some(v.toLong)
    case Literal(v: Int, _) => Some(v.toLong) // also DateType (days)
    case Literal(v: Long, _) => Some(v) // also TimestampType (micros)
    case Literal(v: Float, _) => Some(v.toDouble)
    case Literal(v: Double, _) => Some(v)
    case Literal(v: UTF8String, _) => Some(v.toString)
    case _ => None
  }

  private def attrName(e: Expression): Option[String] = e match {
    case a: Attribute => Some(a.name)
    case _ => None
  }

  def ranges(filters: Seq[Expression]): Seq[ColRange] = filters.flatMap(rangesOf)

  /** Equality/IN predicates → manifest bloom probes ([[SnapshotTable.ColProbe]]):
    * `k = v` probes one value, `k IN (...)` probes any-of. Only
    * all-literal shapes translate; anything else probes nothing —
    * never wrong, just non-skipping (the [[ranges]] contract).
    */
  def probes(filters: Seq[Expression]): Seq[SnapshotTable.ColProbe] =
    filters.flatMap(probesOf)

  /** Probe literals are restricted to integrals and strings: the bloom
    * build hashed `cast(col as string)`, and only these types have a
    * driver-side `String.valueOf` that provably equals that cast
    * (date/timestamp literals carry days/micros, floats change their
    * repr through widening — probing them could WRONGLY skip a file).
    */
  private def litProbeVal(e: Expression): Option[Any] = e match {
    case Literal(v: Byte, org.apache.spark.sql.types.ByteType) => Some(v.toLong)
    case Literal(v: Short, org.apache.spark.sql.types.ShortType) => Some(v.toLong)
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => Some(v.toLong)
    case Literal(v: Long, org.apache.spark.sql.types.LongType) => Some(v)
    case Literal(v: UTF8String, org.apache.spark.sql.types.StringType) =>
      Some(v.toString)
    case _ => None
  }

  private def probesOf(e: Expression): Seq[SnapshotTable.ColProbe] = e match {
    case And(l, r) => probesOf(l) ++ probesOf(r)
    case EqualTo(a, v) =>
      (for { n <- attrName(a); value <- litProbeVal(v) }
        yield SnapshotTable.ColProbe(n, value)).toSeq ++
      (for { n <- attrName(v); value <- litProbeVal(a) }
        yield SnapshotTable.ColProbe(n, value)).toSeq
    case In(a, vs) =>
      (attrName(a), vs.map(litProbeVal)) match {
        case (Some(n), lits) if lits.nonEmpty && lits.forall(_.isDefined) =>
          Seq(SnapshotTable.ColProbe(n, lits.flatten))
        case _ => Nil
      }
    case _ => Nil
  }

  private def rangesOf(e: Expression): Seq[ColRange] = e match {
    case And(l, r) => rangesOf(l) ++ rangesOf(r)
    case EqualTo(a, v) => point(a, v) ++ point(v, a)
    case GreaterThan(a, v) =>
      bound(a, v, lower = true, incl = false) ++ bound(v, a, lower = false, incl = false)
    case GreaterThanOrEqual(a, v) => bound(a, v, lower = true) ++ bound(v, a, lower = false)
    case LessThan(a, v) =>
      bound(a, v, lower = false, incl = false) ++ bound(v, a, lower = true, incl = false)
    case LessThanOrEqual(a, v) => bound(a, v, lower = false) ++ bound(v, a, lower = true)
    case In(a, vs) =>
      (attrName(a), vs.map(litVal)) match {
        case (Some(n), lits) if lits.nonEmpty && lits.forall(_.isDefined) =>
          val values = lits.flatten
          // the envelope needs one total order over the literals:
          // an incomparable pair prunes nothing
          if (values.exists(v => SnapshotTable.cmpStat(v, values.head).isEmpty)) Nil
          else {
            val ord = Ordering.fromLessThan[Any](
              SnapshotTable.cmpStat(_, _).exists(_ < 0))
            Seq(ColRange(n, Some(values.min(ord)), Some(values.max(ord))))
          }
        case _ => Nil
      }
    case _ => Nil
  }

  private def point(a: Expression, v: Expression): Seq[ColRange] =
    (attrName(a), litVal(v)) match {
      case (Some(n), Some(value)) => Seq(ColRange(n, Some(value), Some(value)))
      case _ => Nil
    }

  private def bound(a: Expression, v: Expression, lower: Boolean,
                    incl: Boolean = true): Seq[ColRange] =
    (attrName(a), litVal(v)) match {
      case (Some(n), Some(value)) =>
        Seq(if (lower) ColRange(n, lower = Some(value), lowerInclusive = incl)
            else ColRange(n, upper = Some(value), upperInclusive = incl))
      case _ => Nil
    }
}
