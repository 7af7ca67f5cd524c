package graft.sources.v2

import java.nio.file.{Files, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.SnapshotTable

/** Catalog plugin exposing a directory of snapshot tables to pure SQL:
  *
  * {{{
  * spark.sql.catalog.snap      = graft.sources.v2.SnapshotCatalog
  * spark.sql.catalog.snap.base = /data/tables
  *
  * CREATE TABLE snap.events (id BIGINT, v STRING);
  * INSERT INTO snap.events SELECT ...;      -- transactional append
  * SELECT * FROM snap.events WHERE id = 7;  -- manifest-pruned scan
  * DELETE FROM snap.events WHERE id < 100;  -- pruned copy-on-write
  * }}}
  *
  * Each table is the directory `<base>/<name>`; the catalog is
  * single-level (no namespaces), the natural shape for a lakehouse
  * data root. All reads/writes go through the same [[SnapshotV2Table]]
  * the path-based `format("graft-snapshot")` API uses — the catalog
  * only resolves names.
  */
class SnapshotCatalog extends TableCatalog {

  private var catalogName: String = _
  private var base: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    base = Option(options.get("base")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name needs spark.sql.catalog.$name.base=<directory>"))
  }

  override def name(): String = catalogName

  private def pathOf(ident: Identifier): String = {
    require(ident.namespace().isEmpty || ident.namespace().sameElements(Array("default")),
      s"snapshot catalog is single-level; got namespace ${ident.namespace().mkString(".")}")
    val n = ident.name()
    // a table name is a single directory entry, never a path: without
    // this, DROP TABLE snap.`..` would recursively delete the parent
    // of the data root
    require(n.nonEmpty && n != "." && n != ".." &&
        !n.contains('/') && !n.contains('\\'),
      s"illegal table name '$n' (must be a plain directory name)")
    Paths.get(base, n).toString
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!(namespace.isEmpty || namespace.sameElements(Array("default"))))
      throw new NoSuchNamespaceException(namespace)
    val root = Paths.get(base)
    if (!Files.exists(root)) Array.empty
    else {
      val s = Files.list(root)
      try s.iterator().asScala
        .filter(p => Files.isDirectory(p) &&
          SnapshotTable.currentVersion(p.toString).isDefined)
        .map(p => Identifier.of(Array.empty, p.getFileName.toString))
        .toArray
      finally s.close()
    }
  }

  override def tableExists(ident: Identifier): Boolean =
    SnapshotTable.currentVersion(pathOf(ident)).isDefined

  override def loadTable(ident: Identifier): Table = {
    val snap = SnapshotTable.pin(pathOf(ident), None)
    if (!snap.exists) throw new NoSuchTableException(ident)
    tableOf(snap, None)
  }

  /** The table over `snap`: its schema and every scan come from it. */
  private def tableOf(snap: SnapshotTable.Snapshot, version: Option[Int]): Table =
    new SnapshotV2Table(snap.table, version,
      SnapshotDataSource.nullableCopy(snap.physicalSchema),
      Some(snap))

  /** `SELECT ... FROM snap.t VERSION AS OF n` — SQL time travel onto
    * the manifest log.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val path = pathOf(ident)
    val v = try version.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"snapshot versions are integers; got '$version'")
    }
    tableOf(SnapshotTable.pin(path, Some(v)), Some(v))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "snapshot tables cluster via Z-order/compaction, not partition transforms")
    val path = pathOf(ident)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    SnapshotTable.create(path, schema)
    loadTable(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      "ALTER TABLE is not supported; schema evolves additively on write")

  override def dropTable(ident: Identifier): Boolean = {
    val path = Paths.get(pathOf(ident))
    if (!Files.exists(path)) false
    else {
      val w = Files.walk(path)
      try w.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
      finally w.close()
      true
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    Files.move(Paths.get(pathOf(oldIdent)), Paths.get(pathOf(newIdent)))
  }
}

/** Data-source `Filter` → `Column` conversion for `DELETE FROM`
  * (`SupportsDelete.deleteWhere`). `None` marks a filter we cannot
  * express — `canDeleteWhere` then rejects the whole delete rather
  * than run a wrong one.
  */
private[graft] object FilterColumns {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit, not => fnot}
  import org.apache.spark.sql.sources._

  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case And(l, r) => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc && rc
    case Or(l, r) => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc || rc
    case Not(c) => toColumn(c).map(fnot)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case _ => None
  }
}
