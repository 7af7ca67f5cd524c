package graft.sources

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.core.Materialize

/** Minimal snapshot-isolated table format over plain parquet — the
  * core idea of log-structured lakehouse formats (Delta Lake, VLDB'20)
  * reduced to its essentials:
  *
  *  - data lives in immutable parquet files under `data/`;
  *  - a version's content is EXACTLY the file list in
  *    `_manifests/v{N}.json`; the current version is the highest N;
  *  - a commit writes new data files, then publishes a new manifest
  *    with PUT-IF-ABSENT semantics (hard-link-into-place, which fails
  *    if v{N}.json already exists) — two racing committers can never
  *    both claim version N; the loser retries against the winner's
  *    snapshot (appends/overwrites) or recomputes its merge (upsert).
  *    Readers resolve a manifest first and only ever see a complete,
  *    committed snapshot;
  *  - each manifest entry carries per-file column min/max stats read
  *    from the parquet FOOTERS at commit time (no extra scan), so a
  *    predicate read opens only files whose range intersects —
  *    the same data-skipping contract as Delta's stats / Iceberg's
  *    manifest ranges. At 100 TB a point query on the layout key
  *    touches O(matching files), not the table;
  *  - old versions stay readable (time travel) until vacuumed;
  *    reading a vacuumed version raises a clear error.
  *
  * This upgrades `ParquetMerge`'s whole-directory swap: commits are
  * O(new data) instead of O(table) and concurrent readers are never
  * blocked.
  */
object SnapshotTable {

  private val mapper = new ObjectMapper()

  /** Per-file column statistics: min/max as Long, Double or String
    * (whatever the parquet footer's typed statistics carry). Columns
    * without usable footer stats are simply absent — absence always
    * means "cannot skip".
    */
  final case class ColStats(min: Any, max: Any)

  /** `size` = the data file's byte length, recorded at write time.
    * With every entry sized, [[read]] hands the planner a
    * manifest-built file index (zero storage round-trips at plan
    * time); -1 marks entries from pre-size manifests, which fall back
    * to a listed read.
    *
    * `blooms` = per-column MANIFEST-LEVEL bloom filters (the Delta
    * bloom-index idea folded into the manifest): min/max ranges prune
    * nothing on a scattered high-cardinality key — every file's range
    * spans everything — but a point lookup only needs files whose
    * bloom MIGHT contain the key, decided at PLAN time from the
    * manifest alone, zero file opens. Encoded "<bits>:<k>:<base64>";
    * absence always means "cannot skip". Orthogonal to the parquet
    * row-group blooms [[append]]'s `bloomColumns` writes (those skip
    * row groups after the file is opened; these skip the open).
    */
  final case class FileEntry(name: String, stats: Map[String, ColStats],
                             size: Long = -1L,
                             blooms: Map[String, String] = Map.empty)

  /** Value range for pruning: keep files whose [min,max] intersects
    * the range on `column`. Bounds are inclusive by default (strict
    * `<`/`>` predicates set the *Inclusive flag false so an adjacent
    * file whose min/max EQUALS the bound still skips); `None` means
    * unbounded on that side. Values compare numerically for numeric
    * columns and lexicographically for strings (ISO dates stored as
    * strings prune correctly under the same ordering).
    */
  final case class ColRange(column: String,
                            lower: Option[Any] = None,
                            upper: Option[Any] = None,
                            lowerInclusive: Boolean = true,
                            upperInclusive: Boolean = true)

  /** Equality probe against a bloom-indexed column ([[appendBloomIndexed]]):
    * keep only files whose manifest bloom might contain ANY of `values`
    * (a one-element probe is `k = v`; several model `k IN (...)`).
    * Files without a bloom on the column are always kept. Values
    * compare in CANONICAL STRING form — the build side hashes
    * `cast(col as string)` so probes are insensitive to Int-vs-Long
    * literal width.
    */
  final case class ColProbe(column: String, values: Seq[Any])
  object ColProbe {
    def apply(column: String, value: Any): ColProbe =
      ColProbe(column, Seq(value))
  }

  /** Manifest bloom encode/probe. The BUILD side hashes with Spark's
    * own `xxhash64` (one distributed pass over the just-written files,
    * Kirsch–Mitzenmacher double hashing: pos_i = (h1 + i·h2) mod m
    * with h1 = xxhash64(v), h2 = xxhash64(v, 1L)); the PROBE side
    * evaluates the IDENTICAL Catalyst expression on the driver, so
    * build and probe can never drift — there is no second hash
    * implementation to keep in sync.
    */
  private[graft] object BloomIndex {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.types.{LongType, StringType}

    private def evalHash(children: Seq[Literal]): Long =
      XxHash64(children, 42L).eval(null).asInstanceOf[Long]

    private[sources] def positions(v: String, mBits: Int, k: Int): Seq[Int] = {
      val lit = Literal.create(v, StringType)
      val m = mBits.toLong
      // reduce each hash mod m BEFORE combining: identical positions
      // (mod distributes), and the combination never overflows — the
      // distributed build runs under whatever session the caller has,
      // which in Spark 4 means ANSI arithmetic that THROWS on a
      // wrapping h1 + i*h2
      val h1m = (evalHash(Seq(lit)) % m + m) % m
      val h2m = (evalHash(Seq(lit, Literal.create(1L, LongType))) % m + m) % m
      (0 until k).map(i => ((h1m + i * h2m) % m).toInt)
    }

    private[graft] def encode(mBits: Int, k: Int,
                              setBits: Iterable[Int]): String = {
      val bytes = new Array[Byte](mBits / 8)
      setBits.foreach { p =>
        bytes(p >>> 3) = (bytes(p >>> 3) | (1 << (p & 7))).toByte
      }
      s"$mBits:$k:${java.util.Base64.getEncoder.encodeToString(bytes)}"
    }

    /** Driver-side bloom over canonical string keys — the synthetic-
      * manifest seam tests use (the production build is distributed).
      */
    private[graft] def encodeFor(values: Iterable[String], mBits: Int,
                                 k: Int): String =
      encode(mBits, k, values.flatMap(positions(_, mBits, k)))

    private[sources] def mightContain(enc: String, value: Any): Boolean = {
      val Array(mS, kS, b64) = enc.split(":", 3)
      val mBits = mS.toInt
      val bytes = java.util.Base64.getDecoder.decode(b64)
      positions(String.valueOf(value), mBits, kS.toInt).forall { p =>
        (bytes(p >>> 3) & (1 << (p & 7))) != 0
      }
    }
  }

  private def bloomKeeps(fe: FileEntry, p: ColProbe): Boolean =
    fe.blooms.get(p.column) match {
      case None => true // no bloom on the column: cannot skip
      case Some(enc) => p.values.exists(BloomIndex.mightContain(enc, _))
    }

  private def manifestDir(table: String): Path = Paths.get(table, "_manifests")
  private def chunksDir(table: String): Path = manifestDir(table).resolve("chunks")
  private def dataDir(table: String): Path = Paths.get(table, "data")

  /** A chunk of the manifest's file list, stored as its own immutable
    * JSON file under `_manifests/chunks/` and referenced from the root
    * manifest by name — the Iceberg manifest-list shape. `stats` holds
    * the chunk-level column ranges (min of mins / max of maxes over
    * the chunk's files, recorded only for columns EVERY file carries),
    * so a pruned plan skips whole chunks before parsing a single file
    * entry. Chunks are immutable and SHARED across versions: an append
    * commit reuses every previous chunk ref and writes one new chunk —
    * commit cost is O(new files + #chunks), never O(table), and the
    * root manifest stays a few KB at any file count.
    */
  final case class ChunkRef(name: String, count: Long,
                            stats: Map[String, ColStats])

  /** Append commits buffer new files inline in the root until the
    * buffer exceeds this, then roll it into a chunk.
    */
  private val InlineMaxEntries = 512

  /** Entries per chunk when chunking a large file list (rewrites) and
    * the target size when compacting small chunks.
    */
  private val ChunkTargetEntries = 8192

  /** Compact when this many sub-half-target chunks accumulate. */
  private val CompactSmallChunksAt = 16

  /** `Files.list`/`walk` streams hold an open directory fd until
    * CLOSED — relying on GC leaks descriptors in exactly the
    * long-lived many-commit service this format targets.
    */
  private def listDir[A](dir: Path)(f: Iterator[Path] => A): A = {
    val s = Files.list(dir)
    try f(s.iterator().asScala) finally s.close()
  }

  private def manifestVersions(table: String): Seq[Int] = {
    val md = manifestDir(table)
    if (!Files.exists(md)) Nil
    else listDir(md)(_.map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
        s.stripPrefix("v").stripSuffix(".json").toInt }
      .toSeq)
  }

  def currentVersion(table: String): Option[Int] = {
    val vs = manifestVersions(table)
    if (vs.isEmpty) None else Some(vs.max)
  }

  private def statVal(n: com.fasterxml.jackson.databind.JsonNode): Any =
    if (n.isIntegralNumber) n.asLong()
    else if (n.isFloatingPointNumber) n.asDouble()
    else n.asText()

  private def readManifest(table: String, version: Int): Seq[FileEntry] =
    readManifestFull(table, version)._1

  private def parseEntry(f: com.fasterxml.jackson.databind.JsonNode): FileEntry =
    if (f.isTextual) FileEntry(f.asText(), Map.empty) // pre-stats manifests
    else {
      val stats = Option(f.get("stats")).map { s =>
        s.properties().asScala.map { e =>
          e.getKey -> ColStats(statVal(e.getValue.get("min")),
            statVal(e.getValue.get("max")))
        }.toMap
      }.getOrElse(Map.empty[String, ColStats])
      val size = Option(f.get("size")).map(_.asLong()).getOrElse(-1L)
      val blooms = Option(f.get("blooms")).map(_.properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap)
        .getOrElse(Map.empty[String, String])
      FileEntry(f.get("name").asText(), stats, size, blooms)
    }

  private def entryNode(arr: ArrayNode, fe: FileEntry): Unit = {
    val f = arr.addObject()
    f.put("name", fe.name)
    if (fe.size >= 0L) f.put("size", fe.size)
    if (fe.stats.nonEmpty) {
      val s = f.putObject("stats")
      fe.stats.foreach { case (c, cs) =>
        val o = s.putObject(c)
        putStat(o, "min", cs.min); putStat(o, "max", cs.max)
      }
    }
    if (fe.blooms.nonEmpty) {
      val b = f.putObject("blooms")
      fe.blooms.foreach { case (c, enc) => b.put(c, enc) }
    }
  }

  private def cmpStat(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Long, y: Long) => Some(java.lang.Long.compare(x, y))
    case (x: Number, y: Number) =>
      Some(java.lang.Double.compare(x.doubleValue(), y.doubleValue()))
    case (x: String, y: String) => Some(x.compareTo(y))
    case _ => None
  }

  /** Chunk-level ranges: a column participates only when EVERY file in
    * the chunk carries comparable stats for it — partial coverage must
    * never let the chunk skip.
    */
  private def aggregateStats(entries: Seq[FileEntry]): Map[String, ColStats] = {
    if (entries.isEmpty) return Map.empty
    val cols = entries.map(_.stats.keySet).reduce(_ intersect _)
    cols.iterator.flatMap { c =>
      val ss = entries.map(_.stats(c))
      val agg = ss.tail.foldLeft(Option(ss.head)) {
        case (Some(acc), s) =>
          (cmpStat(s.min, acc.min), cmpStat(s.max, acc.max)) match {
            case (Some(cl), Some(cu)) => Some(ColStats(
              if (cl < 0) s.min else acc.min, if (cu > 0) s.max else acc.max))
            case _ => None // incomparable types: drop the column
          }
        case (None, _) => None
      }
      agg.map(c -> _)
    }.toMap
  }

  /** Writes one immutable chunk file; orphans from lost commit races
    * are cleaned by [[vacuum]].
    */
  private def writeChunkFile(table: String,
                             entries: Seq[FileEntry]): ChunkRef = {
    Files.createDirectories(chunksDir(table))
    val name = s"${java.util.UUID.randomUUID()}.json"
    val root = mapper.createObjectNode()
    val arr = root.putArray("files")
    entries.foreach(entryNode(arr, _))
    Files.writeString(chunksDir(table).resolve(name),
      mapper.writeValueAsString(root))
    ChunkRef(name, entries.size.toLong, aggregateStats(entries))
  }

  // chunk files are immutable, so a parse is cacheable forever — a
  // bounded LRU keeps repeated plans over the same snapshot from
  // re-parsing the same JSON (keyed by absolute path; eviction only
  // bounds memory)
  private val chunkCache =
    new java.util.LinkedHashMap[String, Seq[FileEntry]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Seq[FileEntry]]): Boolean = size() > 64
    }

  private def readChunkFile(table: String, name: String): Seq[FileEntry] = {
    val key = chunksDir(table).resolve(name).toAbsolutePath.toString
    chunkCache.synchronized {
      val hit = chunkCache.get(key)
      if (hit != null) return hit
    }
    val node = mapper.readTree(Files.readString(Paths.get(key)))
    val entries = node.get("files").elements().asScala.map(parseEntry).toSeq
    chunkCache.synchronized { chunkCache.put(key, entries) }
    entries
  }

  /** Resolve many chunks concurrently (order preserved): at 1M files a
    * full-plan resolution parses ~120 chunk JSONs — independent work,
    * and Jackson parse is CPU-bound, so a parallel map cuts the one
    * remaining O(table) driver step by ~the core count. ObjectMapper
    * is thread-safe for reads.
    */
  private def resolveChunks(table: String,
                            refs: Seq[ChunkRef]): Seq[FileEntry] =
    if (refs.size <= 2) refs.flatMap(c => readChunkFile(table, c.name))
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      Await.result(
        Future.traverse(refs.toList)(c =>
          Future(readChunkFile(table, c.name))), Duration.Inf).flatten
    }

  /** Manifest = file entries + the snapshot's logical schema (the
    * union of every commit's columns — see [[evolveSchema]]) + the
    * per-writer txn watermarks, all from ONE read+parse. Schema is
    * absent on manifests written before schema tracking; readers fall
    * back to parquet inference then.
    */
  private def readManifestFull(table: String,
      version: Int): (Seq[FileEntry], Option[org.apache.spark.sql.types.StructType],
        Map[String, Long]) = {
    val (chunks, inline, schema, txns) = readManifestChunked(table, version)
    (resolveChunks(table, chunks) ++ inline, schema, txns)
  }

  /** The ROOT manifest alone: chunk refs + inline entries + schema +
    * txn watermarks, one small read+parse regardless of table size.
    * Callers that need every file entry resolve the chunks (see
    * [[readManifestFull]]); callers that only need the schema, the txn
    * watermarks, or a PRUNED file list stop here and touch only what
    * survives chunk-level pruning.
    */
  private def readManifestChunked(table: String, version: Int)
      : (Seq[ChunkRef], Seq[FileEntry],
         Option[org.apache.spark.sql.types.StructType], Map[String, Long]) = {
    val p = manifestDir(table).resolve(s"v$version.json")
    if (!Files.exists(p)) {
      val live = manifestVersions(table).sorted
      throw new IllegalArgumentException(
        s"version $version of $table does not exist " +
          (if (live.isEmpty) "(table has no committed versions)"
           else s"(it was vacuumed or never committed; live versions: ${live.mkString(", ")})"))
    }
    val node = mapper.readTree(Files.readString(p))
    val inline = Option(node.get("files"))
      .map(_.elements().asScala.map(parseEntry).toSeq).getOrElse(Nil)
    val chunks = Option(node.get("chunks")).map { cs =>
      cs.elements().asScala.map { c =>
        val stats = Option(c.get("stats")).map { s =>
          s.properties().asScala.map { e =>
            e.getKey -> ColStats(statVal(e.getValue.get("min")),
              statVal(e.getValue.get("max")))
          }.toMap
        }.getOrElse(Map.empty[String, ColStats])
        ChunkRef(c.get("name").asText(), c.get("count").asLong(), stats)
      }.toSeq
    }.getOrElse(Nil)
    val schema = Option(node.get("schema")).map(s =>
      org.apache.spark.sql.types.DataType.fromJson(s.asText())
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    val txns = Option(node.get("txns")).map { t =>
      t.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
    }.getOrElse(Map.empty[String, Long])
    (chunks, inline, schema, txns)
  }

  private def putStat(o: ObjectNode, k: String, v: Any): Unit = v match {
    case l: Long => o.put(k, l)
    case d: Double => o.put(k, d)
    case s: String => o.put(k, s)
    case other => o.put(k, other.toString)
  }

  /** Additive schema evolution (the Delta mergeSchema contract): new
    * columns append; existing columns must keep their exact type.
    * Readers project the UNION schema — files written before a column
    * existed read it as null.
    */
  private[sources] def evolveSchema(
      prev: org.apache.spark.sql.types.StructType,
      next: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    val prevByName = prev.fields.map(f => f.name -> f).toMap
    next.fields.foreach { f =>
      prevByName.get(f.name).foreach { p =>
        require(p.dataType == f.dataType,
          s"schema evolution rejected: column ${f.name} changes type " +
            s"${p.dataType.catalogString} -> ${f.dataType.catalogString}")
      }
    }
    val added = next.fields.filterNot(f => prevByName.contains(f.name))
    org.apache.spark.sql.types.StructType(prev.fields ++ added)
  }

  /** Highest committed transaction version per writer id at `version`
    * (empty for manifests written before txn tracking, or vacuumed
    * versions).
    */
  def txnVersions(table: String, version: Int): Map[String, Long] =
    if (!Files.exists(manifestDir(table).resolve(s"v$version.json"))) Map.empty
    else readManifestChunked(table, version)._4

  /** Full-list publish (rewrite ops): small lists stay inline in the
    * root; large lists chunk at [[ChunkTargetEntries]], so a rewrite of
    * a million-file table publishes a root of ~hundred chunk refs
    * instead of a hundred-MB JSON.
    */
  private def publishManifest(table: String, version: Int,
                              files: Seq[FileEntry],
                              schema: Option[org.apache.spark.sql.types.StructType] = None,
                              txns: Map[String, Long] = Map.empty): Boolean =
    if (files.size <= InlineMaxEntries)
      publishManifestRefs(table, version, Nil, files, schema, txns)
    else
      publishManifestRefs(table, version,
        files.grouped(ChunkTargetEntries).map(writeChunkFile(table, _)).toSeq,
        Nil, schema, txns)

  /** Publish v{N}.json with put-if-absent semantics. Returns false if
    * version N was already committed by a concurrent writer (the tmp
    * file is cleaned up either way). Files.createLink fails with
    * FileAlreadyExistsException when the target exists — unlike
    * ATOMIC_MOVE, which silently replaces on POSIX rename and would
    * let a later committer clobber an earlier commit.
    */
  private def publishManifestRefs(table: String, version: Int,
                                  chunks: Seq[ChunkRef],
                                  inline: Seq[FileEntry],
                                  schema: Option[org.apache.spark.sql.types.StructType] = None,
                                  txns: Map[String, Long] = Map.empty,
                                  constraintsOverride: Option[Map[String, String]] = None): Boolean = {
    Files.createDirectories(manifestDir(table))
    val root = mapper.createObjectNode()
    root.put("version", version)
    schema.foreach(s => root.put("schema", s.json))
    if (txns.nonEmpty) {
      val t = root.putObject("txns")
      txns.foreach { case (k, v) => t.put(k, v) }
    }
    // CHECK constraints carry forward through EVERY commit (like txn
    // watermarks) unless a constraint DDL explicitly replaces the set —
    // a data commit can never silently drop an invariant
    val cons = constraintsOverride.getOrElse(
      if (version == 0) Map.empty[String, String]
      else readConstraints(table, version - 1))
    if (cons.nonEmpty) {
      val c = root.putObject("constraints")
      cons.toSeq.sortBy(_._1).foreach { case (k, v) => c.put(k, v) }
    }
    val arr: ArrayNode = root.putArray("files")
    inline.foreach(entryNode(arr, _))
    if (chunks.nonEmpty) {
      val cs = root.putArray("chunks")
      chunks.foreach { cr =>
        val c = cs.addObject()
        c.put("name", cr.name)
        c.put("count", cr.count)
        if (cr.stats.nonEmpty) {
          val s = c.putObject("stats")
          cr.stats.foreach { case (col, st) =>
            val o = s.putObject(col)
            putStat(o, "min", st.min); putStat(o, "max", st.max)
          }
        }
      }
    }
    val tmp = manifestDir(table).resolve(
      s".v$version-${java.util.UUID.randomUUID()}.json.tmp")
    Files.writeString(tmp, mapper.writeValueAsString(root))
    try {
      Files.createLink(manifestDir(table).resolve(s"v$version.json"), tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally Files.deleteIfExists(tmp)
  }

  /** Column min/max from the just-written file's parquet footer —
    * stats parquet already maintains per row group; merged across row
    * groups here. Only top-level primitive columns with non-null typed
    * statistics are recorded.
    */
  private def footerStats(file: Path): Map[String, ColStats] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri), new org.apache.hadoop.conf.Configuration())
    val reader = ParquetFileReader.open(in)
    try {
      val acc = scala.collection.mutable.HashMap.empty[String, ColStats]
      def cmp(a: Any, b: Any): Int = (a, b) match {
        case (x: Long, y: Long) => java.lang.Long.compare(x, y)
        case (x: Double, y: Double) => java.lang.Double.compare(x, y)
        case (x: String, y: String) => x.compareTo(y)
        case _ => 0
      }
      for (block <- reader.getFooter.getBlocks.asScala;
           chunk <- block.getColumns.asScala) {
        val st = chunk.getStatistics
        if (st != null && !st.isEmpty && st.hasNonNullValue) {
          val path = chunk.getPath.toDotString
          val isString = st.`type`().getLogicalTypeAnnotation
            .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
          def conv(v: Any): Option[Any] = v match {
            case i: java.lang.Integer => Some(i.longValue())
            case l: java.lang.Long => Some(l.longValue())
            case f: java.lang.Float => Some(f.doubleValue())
            case d: java.lang.Double => Some(d.doubleValue())
            case b: Binary if isString => Some(b.toStringUsingUTF8)
            case _ => None // int96/decimal/raw-binary: skip, never mis-prune
          }
          (conv(st.genericGetMin()), conv(st.genericGetMax())) match {
            case (Some(mn), Some(mx)) =>
              val merged = acc.get(path) match {
                case Some(prev) => ColStats(
                  if (cmp(mn, prev.min) < 0) mn else prev.min,
                  if (cmp(mx, prev.max) > 0) mx else prev.max)
                case None => ColStats(mn, mx)
              }
              acc(path) = merged
            case _ =>
          }
        }
      }
      acc.toMap
    } finally reader.close()
  }

  /** Write `df` as new immutable data files; returns manifest entries
    * with footer-derived stats.
    *
    * Timestamps write as INT64 TIMESTAMP_MICROS, never the legacy
    * INT96 default: INT96 column chunks carry NO footer statistics, so
    * a timestamp-clustered table would silently lose all data
    * skipping (and INT96 is deprecated in the parquet spec anyway).
    */
  private def writeData(df: DataFrame, table: String,
                        bloomColumns: Seq[String] = Nil): Seq[FileEntry] = {
    val staging = Paths.get(table, s".staging-${java.util.UUID.randomUUID()}")
    // parquet-level bloom filters: row-group skipping for EQUALITY
    // probes on scattered high-cardinality columns, where min/max
    // ranges span everything and prune nothing. The reader side is
    // free: parquet-mr consults blooms during pushed-filter evaluation
    // on any scan (programmatic or DSv2). Dictionary encoding is
    // disabled on indexed columns — parquet drops the bloom when a
    // chunk stays fully dictionary-encoded (the dictionary already
    // answers membership), and a bloom-worthy column is high-cardinality
    // by definition
    // TIMESTAMP_MICROS must be pinned on the SESSION conf — parquet's
    // prepareWrite re-reads it from the session and overwrites any
    // writer option, so an option-only spelling silently falls back to
    // INT96 (no footer stats). A cloned session keeps the pin isolated:
    // no set/restore race with concurrent writers on the caller's
    // session, and the clone shares the SparkContext so the write is
    // the same distributed job.
    val writeSession = org.apache.spark.sql.GraftShim.cloneSession(df.sparkSession)
    writeSession.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val pinned = org.apache.spark.sql.GraftShim.ofRows(
      writeSession, org.apache.spark.sql.GraftShim.logicalPlan(df))
    val writer = bloomColumns.foldLeft(pinned.write.mode(SaveMode.Overwrite)) {
      (w, c) => w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.enable.dictionary#$c", "false")
    }
    writer.parquet(staging.toString)
    Files.createDirectories(dataDir(table))
    val moved = listDir(staging)(_
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map { p =>
        val name = s"${java.util.UUID.randomUUID()}.parquet"
        val dest = dataDir(table).resolve(name)
        Files.move(p, dest)
        FileEntry(name, footerStats(dest), Files.size(dest))
      }.toSeq)
    val walk = Files.walk(staging)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
    finally walk.close()
    moved
  }

  private val MaxCommitRetries = 10

  /** Optimistic-concurrency commit for APPEND-shaped writes: re-read
    * the previous ROOT each attempt (chunk refs are carried forward by
    * reference, never resolved — commit cost is O(new files + #chunks)
    * at any table size), publish put-if-absent, retry at the next
    * version on conflict. After `advance`, the inline buffer rolls
    * into a chunk past [[InlineMaxEntries]], and accumulated small
    * chunks compact toward [[ChunkTargetEntries]] — the only step that
    * parses (small) chunk files, amortized O(1) commits.
    */
  private def commitLoop(table: String, newTxn: Map[String, Long] = Map.empty)
                        (advance: (Seq[ChunkRef], Seq[FileEntry], Option[org.apache.spark.sql.types.StructType])
                          => (Seq[ChunkRef], Seq[FileEntry], org.apache.spark.sql.types.StructType)): Int = {
    var attempt = 0
    while (attempt < MaxCommitRetries) {
      val v = currentVersion(table).getOrElse(-1) + 1
      val (prevChunks, prevInline, prevSchema, prevTxns) =
        if (v == 0) (Nil, Nil, None, Map.empty[String, Long])
        else readManifestChunked(table, v - 1)
      // txn watermarks carry forward through EVERY commit — dropping
      // them would let a replayed idempotent batch double-apply after
      // any unrelated commit
      val txns = prevTxns ++ newTxn
      val (chunks, inline, schema) = advance(prevChunks, prevInline, prevSchema)
      val (nChunks, nInline) = normalizeChunks(table, chunks, inline)
      if (publishManifestRefs(table, v, nChunks, nInline, Some(schema), txns))
        return v
      attempt += 1
    }
    throw new java.util.ConcurrentModificationException(
      s"lost the commit race on $table $MaxCommitRetries times")
  }

  /** Roll an over-full inline buffer into a chunk; compact small
    * chunks once enough accumulate. Lost-race orphan chunk files are
    * reclaimed by [[vacuum]].
    */
  private def normalizeChunks(table: String, chunks0: Seq[ChunkRef],
                              inline0: Seq[FileEntry])
      : (Seq[ChunkRef], Seq[FileEntry]) = {
    var chunks = chunks0
    var inline = inline0
    if (inline.size > InlineMaxEntries) {
      chunks = chunks :+ writeChunkFile(table, inline)
      inline = Nil
    }
    val (small, big) = chunks.partition(_.count < ChunkTargetEntries / 2)
    if (small.size >= CompactSmallChunksAt) {
      val merged = small.flatMap(c => readChunkFile(table, c.name))
        .grouped(ChunkTargetEntries).map(writeChunkFile(table, _)).toSeq
      chunks = big ++ merged
    }
    (chunks, inline)
  }

  /** Create an empty table (v0 manifest carrying just the schema) —
    * the catalog's CREATE TABLE. Fails if the table already has
    * commits.
    */
  def create(table: String, schema: org.apache.spark.sql.types.StructType): Int = {
    require(currentVersion(table).isEmpty, s"$table already exists")
    require(publishManifest(table, 0, Nil, Some(schema)),
      s"lost the create race on $table")
    0
  }

  /** Append: new files + previous snapshot's files. Appends are
    * position-independent, so a lost race retries cheaply against the
    * winner's manifest (blind-append auto-retry, as in Delta). The
    * snapshot schema EVOLVES additively: new columns join the union
    * schema; a type change on an existing column is rejected.
    *
    * @param bloomColumns columns to index with parquet bloom filters
    *                      in the new files (equality-probe row-group
    *                      skipping; orthogonal to the min/max manifest
    *                      stats)
    */
  def append(df: DataFrame, table: String,
             bloomColumns: Seq[String] = Nil): Int = {
    val dfg = applyGenerated(df, table)
    enforceConstraints(dfg, table)
    // column mapping: generated/CHECK ran on logical names; files
    // store physical names
    val inv = columnMappingOf(table).map(_.swap)
    val dfp = toPhysical(dfg, columnMappingOf(table))
    val newFiles = writeData(dfp, table,
      bloomColumns.map(c => inv.getOrElse(c, c)))
    commitLoop(table) { (chunks, inline, prevSchema) =>
      (chunks, inline ++ newFiles,
        evolveSchema(prevSchema.getOrElse(dfp.schema), dfp.schema))
    }
  }

  /** Append with MANIFEST bloom indexes on `indexCols` (plus the
    * parquet row-group blooms on the same columns): after the data
    * write, ONE distributed pass re-reads only the new files, hashes
    * each key `bloomK` ways with Spark's `xxhash64` and reduces to
    * distinct (file, column, bit) rows — the driver collects at most
    * newFiles × cols × `bloomBits` ints of SET BITS, never values.
    * Point-lookup reads ([[ColProbe]]) then skip whole files at plan
    * time on a key whose min/max ranges span everything.
    *
    * Sizing: FPP ≈ (1 − e^(−k·n/m))^k for n distinct keys per file —
    * the default 8 KiB/4-hash bloom holds ~6k keys/file at ≈2% FPP
    * and degrades GRACEFULLY (toward "keep the file", never a wrong
    * skip). Size `bloomBits` to the clustering, not the table.
    */
  def appendBloomIndexed(df: DataFrame, table: String,
                         indexCols: Seq[String],
                         bloomBits: Int = 65536, bloomK: Int = 4): Int = {
    require(indexCols.nonEmpty, "appendBloomIndexed needs index columns")
    require(bloomBits >= 64 && bloomBits % 8 == 0 && bloomK >= 1,
      s"bad bloom sizing: bits=$bloomBits k=$bloomK")
    val dfg = applyGenerated(df, table)
    enforceConstraints(dfg, table)
    val inv = columnMappingOf(table).map(_.swap)
    val physCols = indexCols.map(c => inv.getOrElse(c, c))
    val dfp = toPhysical(dfg, columnMappingOf(table))
    val newFiles = writeData(dfp, table, physCols)
    val indexed = buildBlooms(df.sparkSession, table, newFiles, physCols,
      bloomBits, bloomK)
    commitLoop(table) { (chunks, inline, prevSchema) =>
      (chunks, inline ++ indexed,
        evolveSchema(prevSchema.getOrElse(dfp.schema), dfp.schema))
    }
  }

  /** One distributed hashing pass over `files`' data: returns the
    * entries with per-column manifest blooms attached. Shared by
    * [[appendBloomIndexed]] and [[compact]]'s re-index (a compacted
    * file must answer probes as well as the small files it replaced).
    */
  private def buildBlooms(spark: SparkSession, table: String,
                          files: Seq[FileEntry], indexCols: Seq[String],
                          bloomBits: Int, bloomK: Int): Seq[FileEntry] = {
    import org.apache.spark.sql.functions._
    val paths = files.map(fe =>
      dataDir(table).resolve(fe.name).toAbsolutePath.toString)
    val keyed = spark.read.parquet(paths: _*)
      .select(input_file_name().as("__f"),
        explode(array(indexCols.map(c =>
          struct(lit(c).as("c"), col(c).cast("string").as("v"))): _*))
          .as("__cv"))
      .select(col("__f"), col("__cv.c").as("__c"),
        // mod-m BEFORE combining (matches BloomIndex.positions): the
        // raw h1 + i*h2 wraps, which ANSI sessions reject
        pmod(xxhash64(col("__cv.v")), lit(bloomBits.toLong)).as("__h1"),
        pmod(xxhash64(col("__cv.v"), lit(1L)), lit(bloomBits.toLong))
          .as("__h2"))
      .select(col("__f"), col("__c"),
        explode(sequence(lit(0L), lit(bloomK - 1L))).as("__i"),
        col("__h1"), col("__h2"))
      .select(col("__f"), col("__c"),
        pmod(col("__h1") + col("__i") * col("__h2"), lit(bloomBits.toLong))
          .cast("int").as("__p"))
      .distinct() // map-side partial: the shuffle carries set BITS only
      .groupBy("__f", "__c")
      .agg(collect_set("__p").as("__ps"))
      .collect()
    val byFile = keyed.groupBy { r =>
      val f = r.getString(0)
      f.substring(f.lastIndexOf('/') + 1)
    }.map { case (name, rows) =>
      name -> rows.map { r =>
        r.getString(1) -> BloomIndex.encode(bloomBits, bloomK,
          r.getSeq[Int](2))
      }.toMap
    }
    files.map(fe => fe.copy(blooms = byFile.getOrElse(fe.name, Map.empty)))
  }

  /** Idempotent append for replayable writers (the Delta txnAppId/
    * txnVersion contract): a (writerId, txnVersion) pair applies AT
    * MOST ONCE — re-delivery of an already-committed version is a
    * no-op. This is what makes `foreachBatch` streaming ingest into
    * the table exactly-once: Structured Streaming replays a batch id
    * after a crash, and the second apply sees its watermark already
    * recorded.
    *
    * @param extraTxns additional watermark entries recorded with the
    *                   commit (commit-info properties, e.g. a stream's
    *                   recovery pointer) — carried forward like any
    *                   writer watermark, but no idempotence check runs
    *                   against them
    * @return Some(version) when committed, None when skipped as a replay
    */
  def appendIdempotent(df: DataFrame, table: String,
                       writerId: String, txnVersion: Long,
                       extraTxns: Map[String, Long] = Map.empty): Option[Int] = {
    val already = currentVersion(table)
      .exists(v => txnVersions(table, v).get(writerId).exists(_ >= txnVersion))
    if (already) return None
    val dfg = applyGenerated(df, table)
    enforceConstraints(dfg, table)
    val dfp = toPhysical(dfg, columnMappingOf(table))
    val newFiles = writeData(dfp, table)
    Some(commitLoop(table, Map(writerId -> txnVersion) ++ extraTxns) { (chunks, inline, prevSchema) =>
      // re-check inside the loop: a concurrent retry of the same batch
      // may have landed between the probe and this attempt
      val cur = currentVersion(table)
      if (cur.exists(v => txnVersions(table, v).get(writerId).exists(_ >= txnVersion)))
        return None
      (chunks, inline ++ newFiles,
        evolveSchema(prevSchema.getOrElse(dfp.schema), dfp.schema))
    })
  }

  /** Append PRE-BUILT manifest entries (no data write) — the seam the
    * chunked-manifest spec and `ManifestProbe`'s synthetic mode use to
    * exercise commit/plan cost at file counts that would take hours to
    * write for real. Entries must reference files under `data/` if the
    * table will be READ; planning alone never touches storage.
    */
  private[graft] def appendEntries(table: String, entries: Seq[FileEntry],
      schema: org.apache.spark.sql.types.StructType,
      txn: Map[String, Long] = Map.empty): Int =
    commitLoop(table, txn) { (chunks, inline, prevSchema) =>
      (chunks, inline ++ entries,
        evolveSchema(prevSchema.getOrElse(schema), schema))
    }

  /** Root-manifest shape at `version`: (chunk count, inline entry
    * count, per-chunk entry counts) — the observability surface for
    * chunk roll/compaction asserts and the probe.
    */
  private[graft] def manifestShape(table: String,
                                   version: Option[Int] = None): (Int, Int, Seq[Long]) = {
    val v = version.orElse(currentVersion(table))
      .getOrElse(throw new IllegalArgumentException(s"no committed version in $table"))
    val (chunks, inline, _, _) = readManifestChunked(table, v)
    (chunks.size, inline.size, chunks.map(_.count))
  }

  /** Overwrite: new files only (content independent of the previous
    * snapshot; conflict retry just claims the next version). The
    * schema RESETS to the new frame's — overwrite replaces the table.
    *
    * Mapping-aware: on a column-mapped (renamed) table the incoming
    * frame carries LOGICAL names, but the `_map:` entries survive the
    * commit (the constraints map auto-carries), so the committed files
    * must keep PHYSICAL names — otherwise the next append, which maps
    * logical back to physical, would fork the union schema into two
    * null-padded columns that toLogical then renders as duplicates.
    */
  def overwrite(df: DataFrame, table: String): Int = {
    val out = toPhysical(df, columnMappingOf(table))
    val newFiles = writeData(out, table)
    commitLoop(table)((_, _, _) => (Nil, newFiles, out.schema))
  }

  /** Keyed MERGE (last-write-wins within `updates`, like ParquetMerge):
    * survivors of the current snapshot + deduped updates become the
    * next version's files. O(table) rewrite like any copy-on-write
    * merge, but readers keep the old snapshot until the atomic publish.
    * A lost commit race RECOMPUTES the merge against the winner's
    * snapshot — the orphaned loser files stay unreferenced until
    * vacuum.
    */
  def upsert(spark: SparkSession, df: DataFrame, table: String, key: String): Int = {
    val deduped = applyGenerated(df.dropDuplicates(key), table)
    var attempt = 0
    while (attempt < MaxCommitRetries) {
      val base = currentVersion(table)
      val (merged, schema, prevTxns) = base match {
        case None => (deduped, deduped.schema, Map.empty[String, Long])
        case Some(v) =>
          val (_, prevSchema, txns) = readManifestFull(table, v)
          val evolved = evolveSchema(
            prevSchema.getOrElse(
              toPhysical(read(spark, table, Some(v)),
                columnMappingOf(table, Some(v))).schema),
            toPhysical(deduped, columnMappingOf(table, Some(v))).schema)
          // allowMissingColumns: evolved commits may add columns the
          // other side lacks; missing fields fill with null
          (read(spark, table, Some(v))
            .join(deduped.select(key).distinct(), Seq(key), "left_anti")
            .unionByName(deduped, allowMissingColumns = true), evolved, txns)
      }
      // materialize before writing: `merged` reads the files we replace
      val out = toPhysical(merged,
        base.map(v => columnMappingOf(table, Some(v))).getOrElse(Map.empty))
      val newFiles = Materialize.scope {
        writeData(Materialize.localCheckpoint(out), table)
      }
      val v = base.getOrElse(-1) + 1
      if (publishManifest(table, v, newFiles, Some(schema), prevTxns)) return v
      attempt += 1 // someone else committed base+1: re-merge from their snapshot
    }
    throw new java.util.ConcurrentModificationException(
      s"lost the upsert race on $table $MaxCommitRetries times")
  }

  private def rangeKeeps(stats: Map[String, ColStats], r: ColRange): Boolean =
    stats.get(r.column) match {
      case None => true // no stats for the column: cannot skip
      case Some(cs) =>
        def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
          // exact integral compare first: a Double collapse of 64-bit
          // keys above 2^53 would make EXCLUSIVE bounds mis-prune a
          // file whose max equals bound+1
          case (x: Long, y: Long) => Some(java.lang.Long.compare(x, y))
          case (x: Number, y: Number) =>
            Some(java.lang.Double.compare(x.doubleValue(), y.doubleValue()))
          case (x: String, y: String) => Some(x.compareTo(y))
          case _ => None // incomparable: cannot skip
        }
        val belowLower = r.lower.flatMap(l => cmp(cs.max, l))
          .exists(c => if (r.lowerInclusive) c < 0 else c <= 0)
        val aboveUpper = r.upper.flatMap(u => cmp(cs.min, u))
          .exists(c => if (r.upperInclusive) c > 0 else c >= 0)
        !belowLower && !aboveUpper
    }

  /** Read the table at `version` (default: latest snapshot), opening
    * only the files whose footer-stat ranges intersect every `prune`
    * range. The pruning is conservative: files lacking stats are kept.
    */
  def read(spark: SparkSession, table: String, version: Option[Int] = None,
           prune: Seq[ColRange] = Nil,
           probes: Seq[ColProbe] = Nil): DataFrame = {
    val v = version.orElse(currentVersion(table))
      .getOrElse(throw new IllegalArgumentException(s"no committed version in $table"))
    val (chunks, inline, schemaOpt, _) = readManifestChunked(table, v)
    // chunk-level pruning FIRST: a chunk whose aggregated range misses
    // every predicate is skipped without parsing its file entries — at
    // 1M files a keyed read parses O(matching chunks), not the table.
    // Probes prune per FILE only (a chunk-level bloom union would
    // saturate) — but an equality probe also range-prunes for free
    val probeRanges = probes.collect { case p if p.values.size == 1 =>
      ColRange(p.column, Some(p.values.head), Some(p.values.head)) }
    val allRanges = prune ++ probeRanges
    val entries = resolveChunks(table,
      chunks.filter(cr => allRanges.forall(r => rangeKeeps(cr.stats, r)))) ++ inline
    val files = entries.filter(fe =>
      allRanges.forall(r => rangeKeeps(fe.stats, r)) &&
        probes.forall(p => bloomKeeps(fe, p)))
    val physical = if (files.isEmpty) schemaOpt match {
      case Some(s) => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
      case None => spark.emptyDataFrame
    }
    else if (schemaOpt.isDefined && files.forall(_.size >= 0L)) {
      // the manifest IS the file index: schema + per-file sizes are
      // already known, so the planner gets them directly — zero
      // storage round-trips at plan time. `spark.read.parquet(paths*)`
      // stats every path to build its InMemoryFileIndex, O(files)
      // driver I/O that measured 16.7 s just to PLAN a 10k-file read
      // (ManifestProbe, PLANS.md round 5); this path is flat.
      org.apache.spark.sql.GraftShim.manifestParquet(spark,
        files.map(fe =>
          (dataDir(table).resolve(fe.name).toAbsolutePath.toString, fe.size)),
        schemaOpt.get)
    } else {
      // pre-size or pre-schema manifests: listed read. The manifest's
      // union schema (when present) projects evolved columns as null
      // over files written before the column existed.
      val reader = schemaOpt.fold(spark.read)(s => spark.read.schema(s))
      reader.parquet(
        files.map(fe => dataDir(table).resolve(fe.name).toString): _*)
    }
    // column mapping: files/stats stay physical, callers see logical
    toLogical(physical, columnMappingOf(table, Some(v)))
  }

  /** The CHECK constraints recorded at `version` (current when None).
    * Missing table/version reads as "no constraints".
    */
  def constraintsOf(table: String,
                    version: Option[Int] = None): Map[String, String] =
    version.orElse(currentVersion(table))
      .map(readConstraints(table, _)).getOrElse(Map.empty)

  private def readConstraints(table: String, version: Int): Map[String, String] = {
    val p = manifestDir(table).resolve(s"v$version.json")
    if (version < 0 || !Files.exists(p)) return Map.empty
    val node = mapper.readTree(Files.readString(p))
    Option(node.get("constraints")).map { c =>
      c.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.getOrElse(Map.empty)
  }

  /** Reject a batch that violates any recorded CHECK constraint — SQL
    * semantics: a row violates only when the expression evaluates to
    * FALSE (NULL passes, as in the standard and Delta CHECK). One
    * conditional-count aggregation over the batch for ALL constraints;
    * example rows are fetched only on the failure path. Runs on every
    * data-adding commit (append, bloom-indexed/idempotent append,
    * merge) — rewrite-only commits (delete, compact, Z-order) only
    * reshuffle rows that already passed.
    */
  private def enforceConstraints(df: DataFrame, table: String): Unit = {
    import org.apache.spark.sql.functions._
    // a generated-column entry IS a check on batches that carry the
    // column explicitly: the value must null-safely equal the
    // expression (writers can't stamp conflicting derived values)
    val cons = constraintsOf(table)
      .filter { case (k, _) => !k.startsWith(MapPrefix) } // mapping ≠ CHECK
      .map {
        case (k, v) if k.startsWith(GenPrefix) =>
          k -> s"`${k.stripPrefix(GenPrefix)}` <=> ($v)"
        case kv => kv
      }
    if (cons.isEmpty) return
    val names = cons.keys.toSeq.sorted
    val counts = df.agg(
      sum(when(expr(cons(names.head)) <=> lit(false), 1L).otherwise(0L))
        .as(names.head),
      names.tail.map(n =>
        sum(when(expr(cons(n)) <=> lit(false), 1L).otherwise(0L)).as(n)): _*)
      .head()
    names.zipWithIndex.foreach { case (n, i) =>
      val bad = if (counts.isNullAt(i)) 0L else counts.getLong(i)
      if (bad > 0) {
        val examples = df.filter(expr(cons(n)) <=> lit(false))
          .limit(3).collect().mkString("; ")
        throw new IllegalArgumentException(
          s"CHECK constraint '$n' (${cons(n)}) violated by $bad row(s) " +
            s"in the incoming batch for $table; e.g. $examples")
      }
    }
  }

  // ---- column mapping (rename without rewrite) ----------------------

  /** Reserved constraints-map prefix for column-mapping entries:
    * `_map:<physical>` → logical name. Riding the constraints map
    * (like `_gen:`) gives auto-carry through every commit, time
    * travel, clone and the metadata-commit machinery for free.
    */
  private val MapPrefix = "_map:"

  /** physical → logical column mapping at `version` (current when
    * None); empty for unmapped tables.
    */
  def columnMappingOf(table: String,
                      version: Option[Int] = None): Map[String, String] =
    constraintsOf(table, version).collect {
      case (k, v) if k.startsWith(MapPrefix) => k.stripPrefix(MapPrefix) -> v
    }

  /** Rename a column WITHOUT rewriting any data file (the Delta
    * column-mapping contract): a metadata-only commit records
    * physical→logical in the constraints map; files keep their
    * physical names forever, readers alias at the end of the scan,
    * writers alias incoming batches back to physical. Time travel to
    * a pre-rename version naturally shows the old name (the mapping
    * is versioned with everything else).
    *
    * Guards: the new name must not collide with any current logical
    * column; the renamed column must not be referenced by a CHECK
    * constraint or generated-column expression (those reference
    * logical names, which this rename would silently break — add the
    * constraint after the rename instead); and the renamed column must
    * not itself BE a generated column (its `_gen:` entry is keyed by
    * name — drop it first). MERGE on a mapped table is rejected loudly
    * (not yet mapping-aware); append / read / delete / update /
    * upsert / overwrite / compact / change feed all are.
    */
  def renameColumn(table: String, from: String, to: String): Int = {
    val v = currentVersion(table).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    val mapping = columnMappingOf(table, Some(v))
    val physSchema = readManifestChunked(table, v)._3.getOrElse(
      throw new IllegalArgumentException(s"$table has no recorded schema"))
    val logicalNames = physSchema.fieldNames.map(p => mapping.getOrElse(p, p))
    require(logicalNames.contains(from), s"no column '$from' in $table")
    require(!logicalNames.contains(to), s"column '$to' already exists in $table")
    val word = java.util.regex.Pattern.compile(s"\\b${java.util.regex.Pattern.quote(from)}\\b")
    constraintsOf(table, Some(v)).foreach { case (k, ex) =>
      if (!k.startsWith(MapPrefix) && word.matcher(ex).find())
        throw new IllegalArgumentException(
          s"cannot rename '$from': constraint/generated entry '$k' ($ex) references it")
    }
    // a column that IS a generated column can't be renamed either: its
    // `_gen:<from>` entry is keyed by (logical) name, so a rename would
    // leave the stamp/CHECK machinery bound to the stale key and a
    // later batch carrying the new name would get a SECOND stamped
    // column — reject loudly (drop the generated column first)
    require(!constraintsOf(table, Some(v)).contains(GenPrefix + from),
      s"cannot rename '$from': it is a generated column " +
        s"(drop the ${GenPrefix}${from} entry first)")
    // the physical name behind `from`: an earlier mapping's key, or
    // `from` itself on first rename
    val phys = mapping.find(_._2 == from).map(_._1).getOrElse(from)
    val cons = constraintsOf(table, Some(v)) - (MapPrefix + phys)
    val entry = if (to == phys) Map.empty[String, String]
                else Map(MapPrefix + phys -> to) // rename-back drops the entry
    commitConstraints(table, cons ++ entry)
  }

  /** Alias a physical-schema frame to logical names (no-op when
    * unmapped).
    */
  private def toLogical(df: DataFrame, mapping: Map[String, String]): DataFrame =
    if (mapping.isEmpty) df
    else {
      import org.apache.spark.sql.functions.col
      df.select(df.columns.toSeq.map(c =>
        col(s"`$c`").as(mapping.getOrElse(c, c))): _*)
    }

  /** Alias a logical-named incoming frame back to physical names. */
  private def toPhysical(df: DataFrame, mapping: Map[String, String]): DataFrame =
    if (mapping.isEmpty) df
    else {
      import org.apache.spark.sql.functions.col
      val inv = mapping.map(_.swap)
      df.select(df.columns.toSeq.map(c =>
        col(s"`$c`").as(inv.getOrElse(c, c))): _*)
    }

  /** Add a named CHECK constraint (a metadata-only commit). The
    * expression must resolve against the current schema, and ALL
    * existing rows must satisfy it (the Delta ALTER TABLE ADD
    * CONSTRAINT contract) — otherwise the add is rejected and the
    * table is unchanged.
    */
  def addConstraint(spark: SparkSession, table: String,
                    name: String, exprSql: String): Int = {
    import org.apache.spark.sql.functions._
    val cur = constraintsOf(table)
    require(!cur.contains(name), s"constraint '$name' already exists on $table")
    // resolve against the schema first (clear analysis error), then
    // vet the whole table
    val existing = read(spark, table)
    existing.limit(0).filter(expr(exprSql)).queryExecution.analyzed
    val bad = existing.filter(expr(exprSql) <=> lit(false)).count()
    require(bad == 0L,
      s"cannot add constraint '$name' ($exprSql): $bad existing row(s) violate it")
    commitConstraints(table, cur + (name -> exprSql))
  }

  /** Drop a named CHECK constraint (metadata-only commit). */
  def dropConstraint(table: String, name: String): Int = {
    val cur = constraintsOf(table)
    require(cur.contains(name), s"no constraint '$name' on $table")
    commitConstraints(table, cur - name)
  }

  // --- generated columns (the Delta GENERATED ALWAYS AS contract) ---
  //
  // Stored in the constraints map under reserved "_gen:<col>" names,
  // so version auto-carry, time travel and the metadata commit path
  // come for free. Enforcement is uniform too: a "_gen:" entry acts
  // as the CHECK `col <=> (expr)` on batches that DO provide the
  // column, while writers that omit it get it computed server-side —
  // the point at 100 TB being that partition-style derived columns
  // (day(ts), bucket(id), …) are stamped consistently by the TABLE,
  // not by the discipline of every writer, and manifest min/max stats
  // on them prune reads exactly like hand-maintained partition keys.
  private val GenPrefix = "_gen:"

  /** Generated columns of `table`: column -> SQL expression. */
  def generatedColumnsOf(table: String,
                         version: Option[Int] = None): Map[String, String] =
    constraintsOf(table, version).collect {
      case (k, v) if k.startsWith(GenPrefix) =>
        k.stripPrefix(GenPrefix) -> v
    }

  /** Register `column` as GENERATED ALWAYS AS (`exprSql`) — a
    * metadata-only commit. If the column already exists in the
    * schema, every existing row must already satisfy
    * `column <=> (exprSql)` (the retro-fit is vetted, like
    * [[addConstraint]]); otherwise the column simply starts existing
    * on the next data commit via schema evolution.
    */
  def addGeneratedColumn(spark: SparkSession, table: String,
                         column: String, exprSql: String): Int = {
    import org.apache.spark.sql.functions.{col, expr}
    val cur = constraintsOf(table)
    require(!cur.contains(GenPrefix + column),
      s"generated column '$column' already registered on $table")
    val existing = read(spark, table)
    // the expression must analyze against the current schema
    existing.limit(0).withColumn(column, expr(exprSql))
      .queryExecution.analyzed
    if (schemaOf(spark, table).fieldNames.contains(column)) {
      val bad = existing
        .filter(!(col(column) <=> expr(exprSql))).count()
      require(bad == 0L, s"cannot register generated column '$column' " +
        s"($exprSql): $bad existing row(s) disagree with the expression")
    }
    commitConstraints(table, cur + (GenPrefix + column -> exprSql))
  }

  /** Un-register a generated column (metadata-only; data keeps the
    * already-materialized values).
    */
  def dropGeneratedColumn(table: String, column: String): Int = {
    val cur = constraintsOf(table)
    require(cur.contains(GenPrefix + column),
      s"no generated column '$column' on $table")
    commitConstraints(table, cur - (GenPrefix + column))
  }

  /** Fill in any registered generated column the batch omitted.
    * Batches that DO carry the column pass through untouched here and
    * are vetted by [[enforceConstraints]]' `<=>` check instead.
    */
  private def applyGenerated(df: DataFrame, table: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    generatedColumnsOf(table).foldLeft(df) { case (d, (c, e)) =>
      if (d.columns.contains(c)) d else d.withColumn(c, expr(e))
    }
  }

  /** Recompute every generated column unconditionally — for row-
    * REWRITE paths (UPDATE / MERGE output) where a base column may
    * just have changed: generated values are system-maintained, so
    * they follow the new bases rather than surviving stale.
    */
  private def recomputeGenerated(df: DataFrame, table: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    generatedColumnsOf(table).foldLeft(df) { case (d, (c, e)) =>
      d.withColumn(c, expr(e))
    }
  }

  private def commitConstraints(table: String,
                                next: Map[String, String]): Int = {
    var attempt = 0
    while (attempt < MaxCommitRetries) {
      val v = currentVersion(table).getOrElse(
        throw new IllegalArgumentException(s"$table has no committed version")) + 1
      val (chunks, inline, schema, txns) = readManifestChunked(table, v - 1)
      if (publishManifestRefs(table, v, chunks, inline, schema, txns,
          constraintsOverride = Some(next)))
        return v
      attempt += 1
    }
    throw new java.util.ConcurrentModificationException(
      s"lost the constraint commit race on $table $MaxCommitRetries times")
  }

  /** The snapshot's logical schema (manifest union schema when
    * recorded; parquet inference over the snapshot's files otherwise).
    * Metadata-only when the manifest carries a schema — the DSv2
    * connector calls this at planning time.
    */
  def schemaOf(spark: SparkSession, table: String,
               version: Option[Int] = None): org.apache.spark.sql.types.StructType = {
    val v = version.orElse(currentVersion(table))
      .getOrElse(throw new IllegalArgumentException(s"no committed version in $table"))
    val (_, _, schemaOpt, _) = readManifestChunked(table, v)
    schemaOpt.getOrElse {
      val entries = readManifest(table, v)
      require(entries.nonEmpty, s"$table v$v has no files and no recorded schema")
      spark.read.parquet(dataDir(table).resolve(entries.head.name).toString).schema
    }
  }

  /** Absolute paths of the files a pruned read would open — the DSv2
    * scan builds its file index from exactly this list.
    */
  def filePathsForRead(table: String, version: Option[Int] = None,
                       prune: Seq[ColRange] = Nil): Seq[String] =
    filesForRead(table, version, prune)
      .map(n => dataDir(table).resolve(n).toAbsolutePath.toString)

  /** (absolute path, byte size) of the files a pruned read would open;
    * size is −1 for entries from pre-size manifests. When every entry
    * is sized, readers can build their file index from the manifest
    * alone — no storage listing.
    */
  def sizedFilesForRead(table: String, version: Option[Int] = None,
                        prune: Seq[ColRange] = Nil,
                        probes: Seq[ColProbe] = Nil): Seq[(String, Long)] =
    prunedEntries(table, version, prune, probes)
      .map(fe => (dataDir(table).resolve(fe.name).toAbsolutePath.toString, fe.size))

  /** The files a pruned read would open — exposed so tests and PLANS.md
    * can assert data-skipping without inspecting the scan.
    */
  def filesForRead(table: String, version: Option[Int] = None,
                   prune: Seq[ColRange] = Nil,
                   probes: Seq[ColProbe] = Nil): Seq[String] =
    prunedEntries(table, version, prune, probes).map(_.name)

  /** Shared chunk-then-file pruning for every pruned-list surface. */
  private def prunedEntries(table: String, version: Option[Int],
                            prune: Seq[ColRange],
                            probes: Seq[ColProbe] = Nil): Seq[FileEntry] = {
    val v = version.orElse(currentVersion(table))
      .getOrElse(throw new IllegalArgumentException(s"no committed version in $table"))
    val (chunks, inline, _, _) = readManifestChunked(table, v)
    val allRanges = prune ++ probes.collect {
      case p if p.values.size == 1 =>
        ColRange(p.column, Some(p.values.head), Some(p.values.head)) }
    (resolveChunks(table,
      chunks.filter(cr => allRanges.forall(r => rangeKeeps(cr.stats, r)))) ++ inline)
      .filter(fe => allRanges.forall(r => rangeKeeps(fe.stats, r)) &&
        probes.forall(p => bloomKeeps(fe, p)))
  }

  /** Row-level DELETE (copy-on-write, Delta-style): rows matching
    * `condition` leave the table as a NEW snapshot version. File
    * pruning does the heavy lifting — `condition` translates to
    * manifest stat ranges (same translation the DSv2 scan uses), and
    * only files whose [min,max] MIGHT contain matches are rewritten;
    * every other file carries into the new manifest untouched, stats
    * and all. At 100 TB a delete keyed on the clustering column
    * rewrites O(matching files), not the table.
    *
    * SQL three-valued logic: DELETE removes rows where the condition
    * is TRUE; FALSE and NULL rows stay.
    *
    * @return Some(newVersion), or None when no file could contain a
    *         match (metadata-only no-op)
    */
  def delete(spark: SparkSession, table: String,
             condition: org.apache.spark.sql.Column): Option[Int] = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val keep = not(coalesce(condition, lit(false)))
    var attempt = 0
    while (attempt < MaxCommitRetries) {
      val base = currentVersion(table).getOrElse(return None)
      val (entries, schemaOpt, prevTxns) = readManifestFull(table, base)
      // resolve + constant-fold the condition against the snapshot's
      // schema (the raw Column holds unresolved nodes), then translate
      // the conjuncts to stat ranges exactly like the DSv2 scan does
      val resolvedConds = read(spark, table, Some(base)).filter(condition)
        .queryExecution.optimizedPlan.collect {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
        }
      val ranges = graft.sources.v2.SnapshotPredicates.ranges(resolvedConds)
      val (candidates, untouched) =
        entries.partition(fe => ranges.forall(r => rangeKeeps(fe.stats, r)))
      if (candidates.isEmpty) return None
      val reader = schemaOpt.fold(spark.read)(s => spark.read.schema(s))
      val mapping = columnMappingOf(table, Some(base))
      val survivors = toPhysical(
        toLogical(reader.parquet(
            candidates.map(fe => dataDir(table).resolve(fe.name).toString): _*),
          mapping)
        .filter(keep), mapping)
      // materialize before the rewrite: survivors read the files being
      // replaced only logically — writeData stages to new files, but a
      // lost race must re-filter against a DIFFERENT snapshot anyway
      val newFiles = Materialize.scope {
        writeData(Materialize.localCheckpoint(survivors), table)
      }
      if (publishManifest(table, base + 1, untouched ++ newFiles, schemaOpt, prevTxns))
        return Some(base + 1)
      attempt += 1 // concurrent commit won: re-prune + re-filter its snapshot
    }
    throw new java.util.ConcurrentModificationException(
      s"lost the delete race on $table $MaxCommitRetries times")
  }

  /** Row-level UPDATE (copy-on-write, same pruning as [[delete]]):
    * rows matching `condition` get `set`'s columns re-computed (the
    * expressions may reference the row's current columns); only files
    * whose stats intersect the condition rewrite. Updates cast onto
    * the existing column types — an UPDATE never drifts the physical
    * schema.
    *
    * @return Some(newVersion), or None when no file could contain a
    *         match
    */
  def update(spark: SparkSession, table: String,
             condition: org.apache.spark.sql.Column,
             set: Map[String, org.apache.spark.sql.Column]): Option[Int] = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(set.nonEmpty, "UPDATE needs at least one SET column")
    val cond = coalesce(condition, lit(false))
    var attempt = 0
    while (attempt < MaxCommitRetries) {
      val base = currentVersion(table).getOrElse(return None)
      val (entries, schemaOpt, prevTxns) = readManifestFull(table, base)
      val resolvedConds = read(spark, table, Some(base)).filter(condition)
        .queryExecution.optimizedPlan.collect {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
        }
      val ranges = graft.sources.v2.SnapshotPredicates.ranges(resolvedConds)
      val (candidates, untouched) =
        entries.partition(fe => ranges.forall(r => rangeKeeps(fe.stats, r)))
      if (candidates.isEmpty) return None
      val mapping = columnMappingOf(table, Some(base))
      val tgtSchemaPhys = schemaOpt.getOrElse(
        toPhysical(read(spark, table, Some(base)), mapping).schema)
      // the LOGICAL view of the target schema: set/cond reference
      // logical names; files keep physical ones
      val tgtSchema = org.apache.spark.sql.types.StructType(
        tgtSchemaPhys.map(f => f.copy(name = mapping.getOrElse(f.name, f.name))))
      set.keys.foreach(c => require(tgtSchema.fieldNames.contains(c),
        s"UPDATE SET references unknown column $c"))
      val gens = generatedColumnsOf(table)
      set.keys.foreach(c => require(!gens.contains(c),
        s"UPDATE SET cannot target generated column $c (it is " +
          "recomputed from its expression)"))
      val reader = spark.read.schema(tgtSchemaPhys)
      val rewritten0 = toLogical(reader.parquet(
          candidates.map(fe => dataDir(table).resolve(fe.name).toString): _*),
          mapping)
        .select(tgtSchema.fieldNames.toSeq.map { c =>
          set.get(c) match {
            case Some(expr) =>
              when(cond, expr).otherwise(col(c)).cast(tgtSchema(c).dataType).as(c)
            case None => col(c)
          }
        }: _*)
      // rewritten rows follow their (possibly updated) bases
      val rewritten = toPhysical(recomputeGenerated(rewritten0, table), mapping)
      val newFiles = Materialize.scope {
        writeData(Materialize.localCheckpoint(rewritten), table)
      }
      if (publishManifest(table, base + 1, untouched ++ newFiles, schemaOpt, prevTxns))
        return Some(base + 1)
      attempt += 1
    }
    throw new java.util.ConcurrentModificationException(
      s"lost the update race on $table $MaxCommitRetries times")
  }

  /** Conditional MERGE (the Delta `MERGE INTO` contract, reduced to
    * the keyed form): for each target row whose `key` appears in
    * `updates` — apply `whenMatchedUpdate` columns (SET col = expr,
    * expressions may reference target columns and `_src.*` columns) or
    * drop it when `whenMatchedDelete` holds; source rows matching no
    * target row insert when `whenNotMatchedInsert`.
    *
    * Scale shape: the source's key bounds prune the TARGET's files
    * through manifest stats — only files whose [min,max] key range
    * intersects the source's key envelope join and rewrite; every
    * other file carries over by name. Matching against the candidate
    * subset is EXACT, not approximate: a file outside the key envelope
    * cannot contain a matched key (its stats exclude it), so
    * not-matched detection over candidates alone is complete. A merge
    * of a day's worth of keys into a key-clustered 100 TB table
    * rewrites O(that day's files).
    *
    * Last-write-wins within `updates` on duplicate keys (same as
    * [[upsert]]).
    *
    * `txn`: optional idempotence watermarks, the [[appendIdempotent]]
    * contract extended to merges — if EVERY (writerId, version) entry
    * is already recorded at or above its version, the call is a
    * REPLAY and returns the current version without committing. This
    * is what makes a `foreachBatch` additive merge (e.g.
    * [[IncrementalRollup]]) exactly-once: re-delivered batches must
    * not re-add their partial sums. The check re-runs inside the
    * retry loop against each freshly-read manifest, so losing a
    * commit race to a concurrent retry of the SAME batch stays a
    * no-op.
    */
  def merge(spark: SparkSession, table: String, updates: DataFrame, key: String,
            whenMatchedUpdate: Map[String, org.apache.spark.sql.Column] = Map.empty,
            whenMatchedDelete: Option[org.apache.spark.sql.Column] = None,
            whenNotMatchedInsert: Boolean = true,
            txn: Map[String, Long] = Map.empty): Int = Materialize.scope {
    require(columnMappingOf(table).isEmpty,
      s"MERGE on a column-mapped table is not supported yet ($table " +
        "carries renames) - upsert/update/delete are mapping-aware")
    mergeDeduped(spark, table,
      Materialize.localCheckpoint(updates.dropDuplicates(key)), key,
      whenMatchedUpdate, whenMatchedDelete, whenNotMatchedInsert, txn)
  }

  private def mergeDeduped(spark: SparkSession, table: String,
                           deduped: DataFrame, key: String,
                           whenMatchedUpdate: Map[String, org.apache.spark.sql.Column],
                           whenMatchedDelete: Option[org.apache.spark.sql.Column],
                           whenNotMatchedInsert: Boolean,
                           txn: Map[String, Long]): Int = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not, struct}
    // empty source: nothing can match or insert — without this guard a
    // null key envelope would make EVERY file a rewrite candidate and
    // copy the whole table for a no-op (an empty foreachBatch batch)
    if (deduped.isEmpty)
      return currentVersion(table).getOrElse(create(table, deduped.schema))
    // the source key envelope: one tiny agg, reused every retry
    val bounds = deduped.agg(
      org.apache.spark.sql.functions.min(col(key)),
      org.apache.spark.sql.functions.max(col(key))).head()
    val keyRange =
      if (bounds.isNullAt(0)) None
      else Some(ColRange(key, Some(toStatVal(bounds.get(0))), Some(toStatVal(bounds.get(1)))))

    var attempt = 0
    while (attempt < MaxCommitRetries) {
      val base = currentVersion(table)
      val (entries, schemaOpt, prevTxns) = base match {
        case None => (Nil, None, Map.empty[String, Long])
        case Some(v) => readManifestFull(table, v)
      }
      // idempotence: an already-recorded (writer, version) pair makes
      // this delivery a replay — additive updates must not re-apply
      if (txn.nonEmpty &&
          txn.forall { case (w, v0) => prevTxns.get(w).exists(_ >= v0) })
        return base.getOrElse(0)
      val (candidates, untouched) =
        entries.partition(fe => keyRange.forall(r => rangeKeeps(fe.stats, r)))
      val tgtSchema = schemaOpt.getOrElse(
        if (entries.nonEmpty) read(spark, table, base).schema else deduped.schema)
      val targetCols = tgtSchema.fieldNames.toSeq

      val candidateDf =
        if (candidates.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            tgtSchema)
        else {
          val reader = spark.read.schema(tgtSchema)
          reader.parquet(candidates.map(fe => dataDir(table).resolve(fe.name).toString): _*)
        }

      // one full-outer-shaped pass: candidates LEFT JOIN source decides
      // update/delete/keep; source LEFT ANTI candidates decides inserts
      val srcStruct = struct(deduped.columns.map(col): _*)
      val joined = candidateDf.join(
        deduped.select(col(key).as("_src_key"), srcStruct.as("_src")),
        candidateDf(key) === col("_src_key"), "left")
      val matched = col("_src_key").isNotNull
      val deleteCond = whenMatchedDelete
        .map(c => coalesce(c, lit(false))).getOrElse(lit(false))
      val kept = joined.filter(not(matched) || not(deleteCond))
      // every output column casts onto the target schema type: a
      // clause (or unionByName widening on the source) must never
      // write files whose physical types drift from the manifest schema
      val updatedCols = targetCols.map { c =>
        whenMatchedUpdate.get(c) match {
          case Some(expr) =>
            org.apache.spark.sql.functions.when(matched, expr)
              .otherwise(candidateDf(c)).cast(tgtSchema(c).dataType).as(c)
          case None => candidateDf(c).as(c)
        }
      }
      val rewritten = kept.select(updatedCols: _*)

      val inserts =
        if (!whenNotMatchedInsert) None
        else {
          val unmatched = deduped.join(candidateDf.select(col(key)), Seq(key), "left_anti")
          // inserts project onto the target schema (typed); missing
          // columns null
          val projected = unmatched.select(targetCols.map(c =>
            if (unmatched.columns.contains(c)) col(c).cast(tgtSchema(c).dataType).as(c)
            else lit(null).cast(tgtSchema(c).dataType).as(c)): _*)
          Some(projected)
        }
      val output0 = inserts.fold(rewritten)(ins => rewritten.unionByName(ins))
      // merge REBUILDS rows, so generated columns are recomputed from
      // the post-update bases (an updated base column must not leave a
      // stale derived value; inserts projected them as null)
      val output = recomputeGenerated(output0, table)
      // enforce on the MERGED output (updates may transform values),
      // before any data lands
      enforceConstraints(output, table)
      val newFiles = Materialize.scope {
        writeData(Materialize.localCheckpoint(output), table)
      }
      val v = base.getOrElse(-1) + 1
      // recomputeGenerated may have materialized a registered column
      // the schema did not carry yet — publish the evolved shape
      if (publishManifest(table, v, untouched ++ newFiles,
          Some(evolveSchema(tgtSchema, output.schema)),
          prevTxns ++ txn))
        return v
      attempt += 1 // lost the race: re-prune + re-merge against the winner
    }
    throw new java.util.ConcurrentModificationException(
      s"lost the merge race on $table $MaxCommitRetries times")
  }

  private def toStatVal(v: Any): Any = v match {
    case i: java.lang.Integer => i.longValue()
    case l: java.lang.Long => l
    case s: java.lang.Short => s.longValue()
    case b: java.lang.Byte => b.longValue()
    case f: java.lang.Float => f.doubleValue()
    case d: java.lang.Double => d
    case s: String => s
    case d: java.sql.Date => d.toLocalDate.toEpochDay // matches parquet date stats (days)
    case t: java.sql.Timestamp =>
      t.getTime * 1000L + (t.getNanos % 1000000) / 1000L // micros, matches footer stats
    case other => other
  }

  /** Absolute paths of the data files present in `toVersion`'s
    * manifest but not in `sinceVersion`'s (the streaming micro-batch
    * file set; `sinceVersion < 0` means everything in `toVersion`).
    */
  def addedPathsBetween(table: String, sinceVersion: Int, toVersion: Int): Seq[String] =
    addedEntriesBetween(table, sinceVersion, toVersion)
      .map(fe => dataDir(table).resolve(fe.name).toAbsolutePath.toString)

  /** Entries in `hi`'s manifest but not `lo`'s. Chunk-aware fast path:
    * when `lo`'s chunk set is a SUBSET of `hi`'s (every append-only
    * history — appends and rolls only ever add chunk refs), a file in
    * a shared chunk is by immutability in both versions, so the only
    * candidates are `hi`'s new chunks and inline buffer, filtered
    * against `lo`'s INLINE names (the only `lo` files a later roll can
    * have moved into a new chunk). The streaming source's per-batch
    * diff then parses O(new files), not O(table). Compaction and
    * rewrite commits replace chunk refs, breaking the subset property
    * — those fall back to the full name-set diff.
    */
  private def addedEntriesBetween(table: String, lo: Int,
                                  hi: Int): Seq[FileEntry] = {
    if (lo < 0) return readManifest(table, hi)
    val (hiChunks, hiInline, _, _) = readManifestChunked(table, hi)
    val (loChunks, loInline, _, _) = readManifestChunked(table, lo)
    val loChunkNames = loChunks.map(_.name).toSet
    if (loChunkNames.subsetOf(hiChunks.map(_.name).toSet)) {
      val loInlineNames = loInline.map(_.name).toSet
      (hiChunks.filterNot(c => loChunkNames(c.name))
        .flatMap(c => readChunkFile(table, c.name)) ++ hiInline)
        .filterNot(fe => loInlineNames(fe.name))
    } else {
      val prev = readManifest(table, lo).map(_.name).toSet
      readManifest(table, hi).filterNot(fe => prev(fe.name))
    }
  }

  /** Compaction (OPTIMIZE): bin-pack the current snapshot's
    * small files into files of ~`targetFileBytes`, commit the result
    * as a new version with IDENTICAL content. Files already at or
    * above the target are carried over untouched — compaction cost is
    * O(small-file bytes), not O(table). The small-file problem is the
    * classic failure mode of streaming/micro-batch ingest at scale
    * (thousands of KB-sized files per day turn every scan into a
    * metadata storm); bin-packing restores scan efficiency while
    * snapshot isolation keeps concurrent readers on their version.
    *
    * A lost commit race recomputes against the winner's snapshot (the
    * set of small files may have changed); orphaned rewrite output
    * stays unreferenced until vacuum, like a lost upsert.
    *
    * @return the committed version, or None when nothing needed
    *         compacting (fewer than 2 sub-target files)
    *
    * @param sortBy when non-empty, the packed output range-partitions
    *                and sorts on these columns instead of hash
    *                bin-packing — compaction then RESTORES clustering
    *                (tight disjoint footer stats on the sort key) for
    *                files whose stats had degraded under streaming
    *                ingest, instead of merely merging them
    */
  def compact(spark: SparkSession, table: String,
              targetFileBytes: Long = 128L * 1024 * 1024,
              sortBy: Seq[String] = Nil): Option[Int] = {
    var attempt = 0
    while (attempt < MaxCommitRetries) {
      val base = currentVersion(table).getOrElse(return None)
      val (entries, schemaOpt, prevTxns) = readManifestFull(table, base)
      val sized = entries.map(fe =>
        fe -> Files.size(dataDir(table).resolve(fe.name)))
      val (small, big) = sized.partition(_._2 < targetFileBytes)
      if (small.length < 2) return None
      val smallBytes = small.map(_._2).sum
      val bins = math.max(1, math.ceil(smallBytes.toDouble / targetFileBytes).toInt)
      // read through the union schema so mixed-schema (evolved) files
      // pack into uniform output files
      val reader = schemaOpt.fold(spark.read)(s => spark.read.schema(s))
      val smallDf = reader.parquet(
        small.map(s => dataDir(table).resolve(s._1.name).toString): _*)
      // callers name sort columns LOGICALLY; the files being packed
      // carry physical names on a column-mapped table — translate
      val inv = columnMappingOf(table, Some(base)).map(_.swap)
      val sortPhys = sortBy.map(c => inv.getOrElse(c, c))
      val packed =
        if (sortPhys.isEmpty) smallDf.repartition(bins)
        else smallDf
          .repartitionByRange(bins, sortPhys.map(org.apache.spark.sql.functions.col): _*)
          .sortWithinPartitions(sortPhys.head, sortPhys.tail: _*)
      // safe to read lazily: compaction deletes nothing — the source
      // files stay on disk (and referenced by older manifests) until a
      // later vacuum
      val newFiles = writeData(packed, table)
      // re-index: a compacted file must answer point-lookup probes as
      // well as the bloomed small files it replaced (losing the bloom
      // is CORRECT — no bloom means keep — but forfeits the pruning);
      // sizing carries over from the widest existing bloom
      val bloomCols = small.flatMap(_._1.blooms.keys).distinct
      val indexed =
        if (bloomCols.isEmpty) newFiles
        else {
          val (bits, k) = small.iterator
            .flatMap(_._1.blooms.values)
            .map { enc => val a = enc.split(":", 3); (a(0).toInt, a(1).toInt) }
            .reduce((x, y) => (math.max(x._1, y._1), math.max(x._2, y._2)))
          buildBlooms(spark, table, newFiles, bloomCols, bits, k)
        }
      if (publishManifest(table, base + 1, big.map(_._1) ++ indexed, schemaOpt,
          prevTxns))
        return Some(base + 1)
      attempt += 1
    }
    throw new java.util.ConcurrentModificationException(
      s"lost the compaction race on $table $MaxCommitRetries times")
  }

  /** File names added by `version` relative to `version - 1` (the
    * manifest diff).
    */
  def addedFiles(table: String, version: Int): Seq[String] =
    addedEntriesBetween(table, version - 1, version).map(_.name)

  /** Incremental read (change feed, file granularity): the rows of
    * every data file added in versions (`sinceVersion`, `toVersion`],
    * each tagged with `_commit_version`. For an append-only table this
    * is EXACTLY the rows committed after `sinceVersion` — the shape an
    * incremental downstream consumer (sync, index build, streaming
    * backfill) reads instead of re-scanning the table. For
    * upsert/overwrite/compaction commits the diff is file-level, so
    * rewritten rows reappear with the rewriting commit's version —
    * callers needing row-level change semantics should consume an
    * append-only table (the same contract as file-diff CDC on
    * lakehouse tables without a change-data column).
    */
  def readChanges(spark: SparkSession, table: String, sinceVersion: Int,
                  toVersion: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val hi = toVersion.orElse(currentVersion(table))
      .getOrElse(throw new IllegalArgumentException(s"no committed version in $table"))
    require(sinceVersion <= hi,
      s"sinceVersion $sinceVersion is beyond latest version $hi")
    // all versions' files read through the END version's union schema
    // so the change feed has one consistent shape; the END version's
    // column MAPPING is applied too — data files keep physical names
    // forever, and a CDC consumer of a renamed table must see the same
    // logical names a plain read() shows (the empty-diff path below
    // goes through read() and is logical already)
    val hiSchema = readManifestFull(table, hi)._2
    val hiMapping = columnMappingOf(table, Some(hi))
    val parts = ((sinceVersion + 1) to hi).flatMap { v =>
      val added = addedFiles(table, v)
      if (added.isEmpty) None
      else Some(toLogical(
          hiSchema.fold(spark.read)(s => spark.read.schema(s)).parquet(
            added.map(n => dataDir(table).resolve(n).toString): _*),
          hiMapping)
        .withColumn("_commit_version", lit(v)))
    }
    if (parts.isEmpty) {
      // preserve the table schema (plus the version tag) for an empty diff
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        read(spark, table, Some(hi)).schema
          .add("_commit_version", org.apache.spark.sql.types.IntegerType))
    } else parts.reduce(_ unionByName _)
  }

  /** Row-level semantic diff between two versions BY KEY — what
    * [[readChanges]]' file-granularity feed can't answer on
    * copy-on-write tables (an upsert rewrites whole files, so every
    * row in them reappears in the file diff even when only one
    * changed). One full-outer join of the two snapshots on the key:
    *
    *   - `insert`: key only in `toV`
    *   - `delete`: key only in `fromV`
    *   - `update`: key in both, any shared non-key column differs
    *     (null-safe compare — NULL→value and value→NULL are updates);
    *     unchanged rows are dropped.
    *
    * Output: (key, change, old_<col>, new_<col>) over the shared
    * non-key columns (columns added/removed by schema evolution
    * between the versions are ignored — they'd mark every row
    * changed). Both snapshots read mapping-aware through the standard
    * read path, so a rename between the versions compares the COLUMN,
    * not its label.
    *
    * Scale shape: one key-shuffled join of two snapshot scans; the
    * comparison is a codegen'd projection. For an audit between
    * adjacent versions of an append-only table prefer readChanges
    * (O(new files) instead of O(table)).
    */
  def diffVersions(spark: SparkSession, table: String,
                   fromV: Int, toV: Int, key: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val a = read(spark, table, Some(fromV))
    val b = read(spark, table, Some(toV))
    require(a.columns.contains(key) && b.columns.contains(key),
      s"key '$key' must exist in both versions")
    val shared = a.columns.toSeq.filter(c => c != key && b.columns.contains(c))
    val oldSide = a.select(
      Seq(col(key).as("__k"), lit(true).as("__in_old")) ++
        shared.map(c => col(s"`$c`").as(s"old_$c")): _*)
    val newSide = b.select(
      Seq(col(key).as("__k"), lit(true).as("__in_new")) ++
        shared.map(c => col(s"`$c`").as(s"new_$c")): _*)
    val joined = oldSide.join(newSide, Seq("__k"), "full_outer")
    val changed = shared.map(c => !(col(s"`old_$c`") <=> col(s"`new_$c`")))
      .reduceOption(_ || _).getOrElse(lit(false))
    joined
      .withColumn("change",
        when(col("__in_old").isNull, "insert")
          .when(col("__in_new").isNull, "delete")
          .when(changed, "update"))
      .filter(col("change").isNotNull)
      .select(Seq(col("__k").as(key), col("change")) ++
        shared.flatMap(c => Seq(col(s"`old_$c`"), col(s"`new_$c`"))): _*)
  }

  /** Restore the table to the content of `version`, committed as a NEW
    * version (like Delta RESTORE): pure metadata — the old manifest's
    * file list is re-published at version latest+1, no data moves, and
    * the intervening versions stay time-travelable until vacuum. The
    * restored commit re-publishes the old snapshot's schema and keeps
    * the CURRENT txn watermarks (idempotent writers must not re-apply
    * batches that were committed in the rolled-back range).
    */
  def restore(table: String, version: Int): Int = {
    val (files, schema, _) = readManifestFull(table, version)
    var attempt = 0
    while (attempt < MaxCommitRetries) {
      val latest = currentVersion(table).getOrElse(
        throw new IllegalArgumentException(s"no committed version in $table"))
      if (publishManifest(table, latest + 1, files, schema,
          txnVersions(table, latest)))
        return latest + 1
      attempt += 1
    }
    throw new java.util.ConcurrentModificationException(
      s"lost the restore race on $table $MaxCommitRetries times")
  }

  /** Shallow clone (Delta `CLONE`): a NEW table whose v0 manifest
    * lists the source snapshot's file entries — stats, blooms and all
    * — with the data files HARDLINKED into the clone's data dir (zero
    * bytes copied; copy is the cross-device fallback). Hardlinks are
    * the local-FS equivalent of Delta's absolute-path references with
    * STRICTER lifecycle safety: each table's vacuum unlinks only its
    * own directory entries, so vacuuming the source can never break
    * the clone (spec-pinned), where path-referencing clones require
    * retention coordination.
    *
    * Carried: schema, CHECK constraints and generated columns (the
    * constraints map travels whole). NOT carried: txn watermarks and
    * history — a clone is a new table and a new idempotence scope;
    * writers replaying into it start fresh by design.
    */
  def cloneShallow(src: String, dst: String,
                   version: Option[Int] = None): Int = {
    require(currentVersion(dst).isEmpty, s"$dst already exists")
    val v = version.getOrElse(currentVersion(src).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $src")))
    val (files, schema, _) = readManifestFull(src, v)
    Files.createDirectories(dataDir(dst))
    files.foreach { fe =>
      val from = dataDir(src).resolve(fe.name)
      val to = dataDir(dst).resolve(fe.name)
      if (!Files.exists(to)) {
        try Files.createLink(to, from)
        catch {
          case _: UnsupportedOperationException |
               _: java.nio.file.FileSystemException =>
            Files.copy(from, to)
        }
      }
    }
    val chunks =
      if (files.size <= InlineMaxEntries) Nil
      else files.grouped(ChunkTargetEntries).map(writeChunkFile(dst, _)).toSeq
    val inline = if (files.size <= InlineMaxEntries) files else Nil
    require(publishManifestRefs(dst, 0, chunks, inline, schema,
      Map.empty, Some(readConstraints(src, v))),
      s"lost the create race on $dst")
    0
  }

  /** Version history: (version, n_files, total_bytes) for every
    * manifest still present — the audit surface for time travel,
    * vacuum and restore decisions.
    */
  def history(table: String): Seq[(Int, Int, Long)] =
    manifestVersions(table).sorted.map { v =>
      val files = readManifest(table, v)
      val bytes = files.map { fe =>
        val p = dataDir(table).resolve(fe.name)
        if (Files.exists(p)) Files.size(p) else 0L
      }.sum
      (v, files.size, bytes)
    }

  /** Drop data files not referenced by the latest `keepVersions`
    * manifests, and the older manifests themselves. The keep range is
    * intersected with the manifests actually present, so re-vacuuming
    * after an earlier, tighter vacuum never trips over already-deleted
    * manifests.
    */
  def vacuum(table: String, keepVersions: Int = 1): Unit = {
    val latest = currentVersion(table).getOrElse(return)
    val present = manifestVersions(table).toSet
    val keep = (math.max(0, latest - keepVersions + 1) to latest)
      .filter(present.contains)
    val referenced = keep.flatMap(readManifest(table, _).map(_.name)).toSet
    listDir(dataDir(table))(_
      .filter(p => !referenced.contains(p.getFileName.toString))
      .foreach(Files.delete))
    listDir(manifestDir(table))(_
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith("v") && n.endsWith(".json") &&
          !keep.contains(n.stripPrefix("v").stripSuffix(".json").toInt)
      }
      .foreach(Files.delete))
    // chunk files referenced by no kept root: dropped versions' chunks
    // plus lost-commit-race / superseded-compaction orphans
    if (Files.exists(chunksDir(table))) {
      val refChunks = keep
        .flatMap(v => readManifestChunked(table, v)._1.map(_.name)).toSet
      listDir(chunksDir(table))(_
        .filter(p => !refChunks.contains(p.getFileName.toString))
        .foreach(Files.delete))
    }
  }
}
