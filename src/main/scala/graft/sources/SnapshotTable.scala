package graft.sources

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType, TimestampType}

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
  *    reading a vacuumed version raises a clear error;
  *  - every read plans from the manifest alone: each entry records
  *    its byte size and every manifest that lists files records the
  *    union schema, so no read lists, stats or infers over data files.
  *
  * It is the only table format: batch, API and streaming writers all
  * commit here, and commits are O(new data) with readers never
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

  /** `size` = the data file's byte length, recorded at write time:
    * every read hands the planner a manifest-built file index (zero
    * storage round-trips at plan time).
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
                             size: Long,
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

  /** The one ordering of stat values — footer stats, chunk ranges,
    * prune bounds and `IN` literals all compare through it. Longs
    * compare exactly (a Double collapse of 64-bit keys above 2^53
    * would prune a file holding a wanted key), other numbers as
    * doubles, strings lexicographically; None means incomparable,
    * which must never let a file skip.
    */
  private[graft] def cmpStat(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Long, y: Long) => Some(java.lang.Long.compare(x, y))
    case (x: Number, y: Number) =>
      Some(java.lang.Double.compare(x.doubleValue(), y.doubleValue()))
    case (x: String, y: String) => Some(x.compareTo(y))
    case _ => None
  }

  private def statVal(n: JsonNode): Any =
    if (n.isIntegralNumber) n.asLong()
    else if (n.isFloatingPointNumber) n.asDouble()
    else n.asText()

  /** Stats codec, shared by file entries and chunk refs. */
  private def parseStats(s: JsonNode): Map[String, ColStats] =
    if (s == null) Map.empty
    else s.properties().asScala.map { e =>
      e.getKey -> ColStats(statVal(e.getValue.get("min")),
        statVal(e.getValue.get("max")))
    }.toMap

  private def putStats(o: ObjectNode, stats: Map[String, ColStats]): Unit =
    if (stats.nonEmpty) {
      val s = o.putObject("stats")
      stats.foreach { case (c, cs) =>
        val so = s.putObject(c)
        putStat(so, "min", cs.min); putStat(so, "max", cs.max)
      }
    }

  private def putStat(o: ObjectNode, k: String, v: Any): Unit = v match {
    case l: Long => o.put(k, l)
    case d: Double => o.put(k, d)
    case s: String => o.put(k, s)
    case other => o.put(k, other.toString)
  }

  /** One file entry; `where` names the manifest it came from. An entry
    * without a recorded size (or a bare file name) is rejected: every
    * read plans from the sizes.
    */
  private def parseEntry(where: String)(f: JsonNode): FileEntry = {
    require(f.isObject && f.hasNonNull("size"),
      s"$where lists a file without a recorded size ($f)")
    val blooms = Option(f.get("blooms")).map(_.properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap)
      .getOrElse(Map.empty[String, String])
    FileEntry(f.get("name").asText(), parseStats(f.get("stats")),
      f.get("size").asLong(), blooms)
  }

  private def entryNode(arr: ArrayNode, fe: FileEntry): Unit = {
    val f = arr.addObject()
    f.put("name", fe.name)
    f.put("size", fe.size)
    putStats(f, fe.stats)
    if (fe.blooms.nonEmpty) {
      val b = f.putObject("blooms")
      fe.blooms.foreach { case (c, enc) => b.put(c, enc) }
    }
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
    val entries = node.get("files").elements().asScala
      .map(parseEntry(s"$table chunk $name")).toSeq
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

  /** One version of the table, from ONE read + parse of its root
    * manifest `_manifests/v{N}.json` (the Delta `Snapshot`). Every
    * operation reads one snapshot and derives everything from it —
    * file list, schema, txn watermarks, CHECKs, column mapping and
    * generated columns — and a commit publishes the snapshot that
    * follows it. `version` -1 is the empty table a first commit
    * builds on.
    *
    * `schema` is the PHYSICAL union schema (every commit's columns —
    * see [[evolveSchema]]). Every manifest that lists files records
    * it (parsing rejects one that does not), so it is absent only on
    * the empty table and on a manifest that lists no files.
    * `constraints` holds the CHECKs plus the reserved `_gen:`/`_map:`
    * entries; like the txn watermarks it carries into every commit
    * built on this snapshot unless a constraint DDL replaces it — a
    * data commit can never silently drop an invariant.
    */
  private[graft] final case class Snapshot(table: String, version: Int,
                                    chunks: Seq[ChunkRef],
                                    inline: Seq[FileEntry],
                                    schema: Option[StructType],
                                    txns: Map[String, Long],
                                    constraints: Map[String, String]) {
    def exists: Boolean = version >= 0

    /** Every file entry: resolves the chunk files (cached, immutable). */
    lazy val entries: Seq[FileEntry] = resolveChunks(table, chunks) ++ inline

    /** physical → logical column names; empty for unmapped tables. */
    lazy val mapping: Map[String, String] = reserved(MapPrefix)

    /** The physical name behind logical column `c`. */
    def physicalName(c: String): String =
      mapping.collectFirst { case (p, l) if l == c => p }.getOrElse(c)

    /** Generated columns: column -> SQL expression. */
    lazy val generated: Map[String, String] = reserved(GenPrefix)

    private def reserved(prefix: String): Map[String, String] =
      constraints.collect {
        case (k, v) if k.startsWith(prefix) => k.stripPrefix(prefix) -> v
      }

    /** Chunk-then-file pruning: a chunk whose aggregated range misses
      * a predicate is skipped without parsing its file entries — at 1M
      * files a keyed read parses O(matching chunks), not the table.
      * Probes prune per FILE only (a chunk-level bloom union would
      * saturate), but an equality probe also range-prunes for free.
      */
    def pruned(prune: Seq[ColRange], probes: Seq[ColProbe]): Seq[FileEntry] = {
      val ranges = prune ++ probes.collect {
        case p if p.values.size == 1 =>
          ColRange(p.column, Some(p.values.head), Some(p.values.head)) }
      (resolveChunks(table,
        chunks.filter(cr => ranges.forall(r => rangeKeeps(cr.stats, r)))) ++ inline)
        .filter(fe => ranges.forall(r => rangeKeeps(fe.stats, r)) &&
          probes.forall(p => bloomKeeps(fe, p)))
    }

    /** (absolute path, byte size) of the files a pruned read opens. */
    def sizedFiles(prune: Seq[ColRange],
                   probes: Seq[ColProbe]): Seq[(String, Long)] =
      pruned(prune, probes).map(sized(table, _))

    /** The PHYSICAL schema; a snapshot without files may carry none,
      * and reads it as no columns.
      */
    def physicalSchema: StructType = schema.getOrElse(new StructType())
  }

  /** (absolute path, byte size) of `fe`, a data file of `table`. */
  private def sized(table: String, fe: FileEntry): (String, Long) =
    (dataDir(table).resolve(fe.name).toAbsolutePath.toString, fe.size)

  private def emptySnapshot(table: String): Snapshot =
    Snapshot(table, -1, Nil, Nil, None, Map.empty, Map.empty)

  private def manifestPath(table: String, version: Int): Path =
    manifestDir(table).resolve(s"v$version.json")

  private def snapshotAt(table: String, version: Int): Snapshot = {
    val json = try Files.readString(manifestPath(table, version)) catch {
      case _: java.nio.file.NoSuchFileException =>
        val live = manifestVersions(table).sorted
        throw new IllegalArgumentException(
          s"version $version of $table does not exist " +
            (if (live.isEmpty) "(table has no committed versions)"
             else s"(it was vacuumed or never committed; live versions: ${live.mkString(", ")})"))
    }
    val node = mapper.readTree(json)
    def props[V](field: String)(value: JsonNode => V): Map[String, V] =
      Option(node.get(field)).map(_.properties().asScala
        .map(e => e.getKey -> value(e.getValue)).toMap).getOrElse(Map.empty)
    val where = s"$table v$version"
    val snap = Snapshot(table, version,
      chunks = Option(node.get("chunks")).map(_.elements().asScala.map { c =>
        ChunkRef(c.get("name").asText(), c.get("count").asLong(),
          parseStats(c.get("stats")))
      }.toSeq).getOrElse(Nil),
      inline = Option(node.get("files"))
        .map(_.elements().asScala.map(parseEntry(where)).toSeq).getOrElse(Nil),
      schema = Option(node.get("schema")).map(s =>
        DataType.fromJson(s.asText()).asInstanceOf[StructType]),
      txns = props("txns")(_.asLong()),
      constraints = props("constraints")(_.asText()))
    require(snap.schema.isDefined || (snap.chunks.isEmpty && snap.inline.isEmpty),
      s"$where lists files but records no schema")
    snap
  }

  /** The latest snapshot (one listing + one parse); the empty snapshot
    * when the table has no commits.
    */
  private def latest(table: String): Snapshot =
    currentVersion(table).fold(emptySnapshot(table))(snapshotAt(table, _))

  /** The one snapshot a connector's whole read works from: `version`,
    * or the latest (the empty snapshot before the first commit).
    * Schema, column-mapping check and file list all come from it, so a
    * commit landing mid-planning can never pair one version's schema
    * with the next version's files.
    */
  private[graft] def pin(table: String, version: Option[Int]): Snapshot =
    version.fold(latest(table))(snapshotAt(table, _))

  /** The snapshot at `version` (latest when None) for operations that
    * need a committed version.
    */
  private def snapshot(table: String, version: Option[Int]): Snapshot =
    snapshotAt(table, version.orElse(currentVersion(table)).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table")))

  /** Like [[snapshot]], but a missing table or version reads as the
    * empty snapshot — the metadata accessors' contract.
    */
  private def snapshotOrEmpty(table: String, version: Option[Int]): Snapshot =
    version match {
      case None => latest(table)
      case Some(v) if Files.exists(manifestPath(table, v)) => snapshotAt(table, v)
      case _ => emptySnapshot(table)
    }

  /** Additive schema evolution (the Delta mergeSchema contract): new
    * columns append; existing columns must keep their exact type.
    * Readers project the UNION schema — files written before a column
    * existed read it as null.
    */
  private[sources] def evolveSchema(
      prev: StructType,
      next: StructType): StructType = {
    val prevByName = prev.fields.map(f => f.name -> f).toMap
    next.fields.foreach { f =>
      prevByName.get(f.name).foreach { p =>
        require(p.dataType == f.dataType,
          s"schema evolution rejected: column ${f.name} changes type " +
            s"${p.dataType.catalogString} -> ${f.dataType.catalogString}")
      }
    }
    val added = next.fields.filterNot(f => prevByName.contains(f.name))
    StructType(prev.fields ++ added)
  }

  /** Highest committed transaction version per writer id at `version`
    * (empty for manifests written before txn tracking, or vacuumed
    * versions).
    */
  def txnVersions(table: String, version: Int): Map[String, Long] =
    snapshotOrEmpty(table, Some(version)).txns

  /** Manifest layout of a full file list (rewrite ops): small lists
    * stay inline in the root; large lists chunk at
    * [[ChunkTargetEntries]], so a rewrite of a million-file table
    * publishes a root of ~hundred chunk refs instead of a hundred-MB
    * JSON. Returns (chunks, inline).
    */
  private def layout(table: String,
                     files: Seq[FileEntry]): (Seq[ChunkRef], Seq[FileEntry]) =
    if (files.size <= InlineMaxEntries) (Nil, files)
    else (files.grouped(ChunkTargetEntries).map(writeChunkFile(table, _)).toSeq, Nil)

  /** Publish `s` as v{s.version}.json with put-if-absent semantics.
    * Returns None if that version was already committed by a
    * concurrent writer (the tmp file is cleaned up either way).
    * Files.createLink fails with FileAlreadyExistsException when the
    * target exists — unlike ATOMIC_MOVE, which silently replaces on
    * POSIX rename and would let a later committer clobber an earlier
    * commit.
    */
  private def publish(s: Snapshot): Option[Int] = {
    Files.createDirectories(manifestDir(s.table))
    val root = mapper.createObjectNode()
    root.put("version", s.version)
    s.schema.foreach(sc => root.put("schema", sc.json))
    if (s.txns.nonEmpty) {
      val t = root.putObject("txns")
      s.txns.foreach { case (k, v) => t.put(k, v) }
    }
    if (s.constraints.nonEmpty) {
      val c = root.putObject("constraints")
      s.constraints.toSeq.sortBy(_._1).foreach { case (k, v) => c.put(k, v) }
    }
    val arr: ArrayNode = root.putArray("files")
    s.inline.foreach(entryNode(arr, _))
    if (s.chunks.nonEmpty) {
      val cs = root.putArray("chunks")
      s.chunks.foreach { cr =>
        val c = cs.addObject()
        c.put("name", cr.name)
        c.put("count", cr.count)
        putStats(c, cr.stats)
      }
    }
    val tmp = manifestDir(s.table).resolve(
      s".v${s.version}-${java.util.UUID.randomUUID()}.json.tmp")
    Files.writeString(tmp, mapper.writeValueAsString(root))
    try {
      Files.createLink(manifestPath(s.table, s.version), tmp)
      Some(s.version)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => None
    } finally Files.deleteIfExists(tmp)
  }

  /** Publish `files` as the version after `base` (rewrite commits);
    * the constraints carry over from `base`.
    */
  private def publishFiles(base: Snapshot, files: Seq[FileEntry],
                           schema: Option[StructType],
                           txns: Map[String, Long]): Option[Int] = {
    val (chunks, inline) = layout(base.table, files)
    publish(base.copy(version = base.version + 1, chunks = chunks,
      inline = inline, schema = schema, txns = txns))
  }

  /** Optimistic concurrency: `attempt` runs against `first`, then
    * against a fresh read of the latest snapshot after each lost
    * put-if-absent race (signalled by None) — only a lost race
    * re-reads the manifest.
    */
  private def retrying[A](first: Snapshot, race: String)
                         (attempt: Snapshot => Option[A]): A =
    Iterator.iterate(first)(s => latest(s.table)).take(MaxCommitRetries)
      .map(attempt).collectFirst { case Some(a) => a }
      .getOrElse(throw new java.util.ConcurrentModificationException(
        s"lost the $race race on ${first.table} $MaxCommitRetries times"))

  /** Column min/max from the just-written file's parquet footer —
    * stats parquet already maintains per row group; merged across row
    * groups here. Only top-level primitive columns with non-null typed
    * statistics are recorded. `conf` is the writing session's Hadoop
    * conf: without read options parquet builds a `new Configuration()`
    * per file, which re-parses the Hadoop XML resources (~16 ms).
    */
  private def footerStats(file: Path,
                          conf: org.apache.hadoop.conf.Configuration): Map[String, ColStats] = {
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val in = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(file.toUri), conf)
    val reader = ParquetFileReader.open(in, HadoopReadOptions.builder(conf).build())
    try {
      val acc = scala.collection.mutable.HashMap.empty[String, ColStats]
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
                  if (cmpStat(mn, prev.min).exists(_ < 0)) mn else prev.min,
                  if (cmpStat(mx, prev.max).exists(_ > 0)) mx else prev.max)
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
    val writer = bloomColumns.foldLeft(microsTimestamps(df).write.mode(SaveMode.Overwrite)) {
      (w, c) => w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.enable.dictionary#$c", "false")
    }
    writer.parquet(staging.toString)
    val hadoopConf = org.apache.spark.sql.GraftShim.hadoopConf(df.sparkSession)
    Files.createDirectories(dataDir(table))
    val moved = listDir(staging)(_
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map { p =>
        val name = s"${java.util.UUID.randomUUID()}.parquet"
        val dest = dataDir(table).resolve(name)
        Files.move(p, dest)
        FileEntry(name, footerStats(dest, hadoopConf), Files.size(dest))
      }.toSeq)
    val walk = Files.walk(staging)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
    finally walk.close()
    moved
  }

  /** `df` bound to a session that writes TIMESTAMP as INT64 micros.
    * The pin must sit on the SESSION conf — parquet's prepareWrite
    * re-reads it from the session and overwrites any writer option, so
    * an option-only spelling silently falls back to INT96. A cloned
    * session keeps the pin isolated (no set/restore race with
    * concurrent writers on the caller's session) and shares the
    * SparkContext, so the write is the same distributed job. Only the
    * TIMESTAMP writer reads that conf, so a batch without a TIMESTAMP
    * at any depth writes in the caller's session: a fresh session
    * makes the write task recompile its generated code.
    */
  private def microsTimestamps(df: DataFrame): DataFrame =
    if (!holdsTimestamp(df.schema)) df
    else {
      val writeSession = org.apache.spark.sql.GraftShim.cloneSession(df.sparkSession)
      writeSession.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      org.apache.spark.sql.GraftShim.ofRows(
        writeSession, org.apache.spark.sql.GraftShim.logicalPlan(df))
    }

  /** Whether `dt` holds a [[TimestampType]] at any nesting depth. */
  private def holdsTimestamp(dt: DataType): Boolean = dt match {
    case TimestampType => true
    case s: StructType => s.fields.exists(f => holdsTimestamp(f.dataType))
    case a: ArrayType => holdsTimestamp(a.elementType)
    case m: MapType => holdsTimestamp(m.keyType) || holdsTimestamp(m.valueType)
    case _ => false
  }

  private val MaxCommitRetries = 10

  /** Optimistic-concurrency commit for APPEND-shaped writes, built on
    * `first` and on a fresh ROOT after each lost race (chunk refs are
    * carried forward by reference, never resolved — commit cost is
    * O(new files + #chunks) at any table size). After `advance`, the
    * inline buffer rolls into a chunk past [[InlineMaxEntries]], and
    * accumulated small chunks compact toward [[ChunkTargetEntries]] —
    * the only step that parses (small) chunk files, amortized O(1)
    * commits.
    *
    * The new files were prepared against `first`'s constraints map
    * (generated columns filled, CHECKs vetted, names mapped), so a
    * winner that changed that map aborts the commit with a
    * [[java.util.ConcurrentModificationException]] — Delta's
    * metadata-conflict abort. Re-vetting cannot help: the files are
    * already written.
    */
  private def commitLoop(first: Snapshot, newTxn: Map[String, Long] = Map.empty)
                        (advance: Snapshot => (Seq[ChunkRef], Seq[FileEntry], StructType)): Int =
    retrying(first, "commit") { base =>
      val (chunks, inline, schema) = advance(base)
      if (base.constraints != first.constraints)
        throw new java.util.ConcurrentModificationException(
          s"${first.table} v${base.version} changed its CHECK constraints, " +
            "generated columns or column mapping while this commit's batch, " +
            s"prepared on v${first.version}, was being written")
      val (nChunks, nInline) = normalizeChunks(base.table, chunks, inline)
      // txn watermarks carry forward through EVERY commit — dropping
      // them would let a replayed idempotent batch double-apply after
      // any unrelated commit
      publish(base.copy(version = base.version + 1, chunks = nChunks,
        inline = nInline, schema = Some(schema), txns = base.txns ++ newTxn))
    }

  /** `advance` for a blind append of `files` written with `schema`:
    * the snapshot schema EVOLVES additively (see [[evolveSchema]]).
    */
  private def appended(files: Seq[FileEntry], schema: StructType)
                      (base: Snapshot): (Seq[ChunkRef], Seq[FileEntry], StructType) =
    (base.chunks, base.inline ++ files,
      evolveSchema(base.schema.getOrElse(schema), schema))

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
  def create(table: String, schema: StructType): Int = {
    require(currentVersion(table).isEmpty, s"$table already exists")
    require(publish(emptySnapshot(table).copy(version = 0, schema = Some(schema)))
      .isDefined, s"lost the create race on $table")
    0
  }

  /** An incoming data batch made ready to write on `base`: omitted
    * generated columns filled in, vetted against the CHECKs, and
    * aliased to physical names (generated/CHECK run on logical names;
    * files store physical ones).
    */
  private def prepareBatch(df: DataFrame, base: Snapshot): DataFrame = {
    val dfg = applyGenerated(df, base)
    enforceConstraints(dfg, base)
    toPhysical(dfg, base.mapping)
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
    val base = latest(table)
    val dfp = prepareBatch(df, base)
    val newFiles = writeData(dfp, table, bloomColumns.map(base.physicalName))
    commitLoop(base)(appended(newFiles, dfp.schema))
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
    val base = latest(table)
    val physCols = indexCols.map(base.physicalName)
    val dfp = prepareBatch(df, base)
    val newFiles = writeData(dfp, table, physCols)
    val indexed = buildBlooms(df.sparkSession, table, dfp.schema, newFiles,
      physCols, bloomBits, bloomK)
    commitLoop(base)(appended(indexed, dfp.schema))
  }

  /** One distributed hashing pass over `files`' data (written with
    * the physical `schema`): returns the entries with per-column
    * manifest blooms attached. Shared by [[appendBloomIndexed]] and
    * [[compact]]'s re-index (a compacted file must answer probes as
    * well as the small files it replaced).
    */
  private def buildBlooms(spark: SparkSession, table: String, schema: StructType,
                          files: Seq[FileEntry], indexCols: Seq[String],
                          bloomBits: Int, bloomK: Int): Seq[FileEntry] = {
    import org.apache.spark.sql.functions._
    val keyed = frameOf(spark, table, schema, files, Map.empty)
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

  /** Append under an optional replay token: `None` is a plain
    * [[append]]; `Some((writerId, txnVersion))` is an
    * [[appendIdempotent]], so a replayed batch is skipped. The token is
    * one value, so a writer id cannot be passed without its version.
    *
    * @return Some(version) when committed, None when skipped as a replay
    */
  def appendAs(df: DataFrame, table: String,
               writer: Option[(String, Long)]): Option[Int] = writer match {
    case Some((w, v)) => appendIdempotent(df, table, w, v)
    case None => Some(append(df, table))
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
    def replay(s: Snapshot) = s.txns.get(writerId).exists(_ >= txnVersion)
    val base = latest(table)
    if (replay(base)) return None
    val dfp = prepareBatch(df, base)
    val newFiles = writeData(dfp, table)
    Some(commitLoop(base, Map(writerId -> txnVersion) ++ extraTxns) { s =>
      // re-check on every attempt: after a lost race, a concurrent
      // retry of the same batch may be the winner
      if (replay(s)) return None
      appended(newFiles, dfp.schema)(s)
    })
  }

  /** Append PRE-BUILT manifest entries (no data write) — the seam the
    * chunked-manifest spec uses to exercise commit/plan cost at file
    * counts that would take hours to write for real (real commits at
    * scale: the `snap` rows of `ScaleProbe 10`). Entries must reference files under `data/` if the
    * table will be READ; planning alone never touches storage.
    */
  private[graft] def appendEntries(table: String, entries: Seq[FileEntry],
      schema: StructType,
      txn: Map[String, Long] = Map.empty): Int =
    commitLoop(latest(table), txn)(appended(entries, schema))

  /** Root-manifest shape at `version`: (chunk count, inline entry
    * count, per-chunk entry counts) — the observability surface for
    * chunk roll/compaction asserts and the probe.
    */
  private[graft] def manifestShape(table: String,
                                   version: Option[Int] = None): (Int, Int, Seq[Long]) = {
    val s = snapshot(table, version)
    (s.chunks.size, s.inline.size, s.chunks.map(_.count))
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
    val base = latest(table)
    // the CHECKs carry over into the new version, so they vet the batch
    val out = prepareBatch(df, base)
    val newFiles = writeData(out, table)
    commitLoop(base)(_ => (Nil, newFiles, out.schema))
  }

  /** Keyed MERGE, last-write-wins within `updates`: rows replace the
    * current rows with the same key, all other rows survive, and
    * re-running the same updates leaves the same rows. Survivors of
    * the current snapshot + deduped updates become the next version's
    * files. O(table) rewrite like any copy-on-write merge, but readers
    * keep the old snapshot until the atomic publish.
    * A lost commit race RECOMPUTES the merge against the winner's
    * snapshot — the orphaned loser files stay unreferenced until
    * vacuum.
    */
  def upsert(spark: SparkSession, df: DataFrame, table: String, key: String): Int =
    retrying(latest(table), "upsert") { base =>
      val deduped = applyGenerated(df.dropDuplicates(key), base)
      enforceConstraints(deduped, base)
      val (merged, schema) =
        if (!base.exists) (deduped, deduped.schema)
        else {
          val current = scan(spark, base)
          val physical = toPhysical(deduped, base.mapping).schema
          val evolved = evolveSchema(base.schema.getOrElse(physical), physical)
          // allowMissingColumns: evolved commits may add columns the
          // other side lacks; missing fields fill with null
          (current
            .join(deduped.select(key).distinct(), Seq(key), "left_anti")
            .unionByName(deduped, allowMissingColumns = true), evolved)
        }
      // materialize before writing: `merged` reads the files we replace
      val out = toPhysical(merged, base.mapping)
      val newFiles = Materialize.scope {
        writeData(Materialize.localCheckpoint(out), table)
      }
      // a lost race re-merges from the winner's snapshot
      publishFiles(base, newFiles, Some(schema), base.txns)
    }

  private def rangeKeeps(stats: Map[String, ColStats], r: ColRange): Boolean =
    stats.get(r.column) match {
      case None => true // no stats for the column: cannot skip
      case Some(cs) =>
        val belowLower = r.lower.flatMap(l => cmpStat(cs.max, l))
          .exists(c => if (r.lowerInclusive) c < 0 else c <= 0)
        val aboveUpper = r.upper.flatMap(u => cmpStat(cs.min, u))
          .exists(c => if (r.upperInclusive) c > 0 else c >= 0)
        !belowLower && !aboveUpper
    }

  /** Read the table at `version` (default: latest snapshot), opening
    * only the files whose footer-stat ranges intersect every `prune`
    * range. The pruning is conservative: files lacking stats are kept.
    */
  def read(spark: SparkSession, table: String, version: Option[Int] = None,
           prune: Seq[ColRange] = Nil,
           probes: Seq[ColProbe] = Nil): DataFrame =
    scan(spark, snapshot(table, version), prune, probes)

  /** [[read]] of an already-loaded snapshot. */
  private def scan(spark: SparkSession, snap: Snapshot,
                   prune: Seq[ColRange] = Nil,
                   probes: Seq[ColProbe] = Nil): DataFrame =
    frameOf(spark, snap.table, snap.physicalSchema, snap.pruned(prune, probes),
      snap.mapping)

  /** The one read of data files: the logical frame over `entries` of
    * `table`, read through the physical `schema` (files written before
    * an evolved column project it as null) and aliased through
    * `mapping`. The manifest IS the file index: paths, sizes and schema
    * go to the planner directly, zero storage round-trips at plan
    * time, where a listed parquet read stats every path (16.7 s just
    * to PLAN a 10k-file read, PLANS.md round 5;
    * `ScaleProbe 10`'s `snap pruned scan` row measures this path at
    * 10x). A read Spark plans as one split comes back as one
    * partition, so the operators above it plan no exchange.
    */
  private def frameOf(spark: SparkSession, table: String, schema: StructType,
                      entries: Seq[FileEntry],
                      mapping: Map[String, String]): DataFrame = {
    val physical =
      if (entries.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else org.apache.spark.sql.GraftShim.manifestParquet(spark,
        entries.map(sized(table, _)), schema)
    // column mapping: files/stats stay physical, callers see logical
    toLogical(physical, mapping)
  }

  /** The CHECK constraints recorded at `version` (current when None).
    * Missing table/version reads as "no constraints".
    */
  def constraintsOf(table: String,
                    version: Option[Int] = None): Map[String, String] =
    snapshotOrEmpty(table, version).constraints

  /** Reject a batch that violates any recorded CHECK constraint — SQL
    * semantics: a row violates only when the expression evaluates to
    * FALSE (NULL passes, as in the standard and Delta CHECK). One
    * conditional-count aggregation over the batch for ALL constraints;
    * example rows are fetched only on the failure path. Runs on every
    * data-adding commit (append, bloom-indexed/idempotent append,
    * overwrite, upsert, merge) — rewrite-only commits (delete, compact,
    * Z-order) only reshuffle rows that already passed. The CHECKs are `base`'s, the
    * snapshot the commit builds on.
    */
  private def enforceConstraints(df: DataFrame, base: Snapshot): Unit = {
    import org.apache.spark.sql.functions._
    // a generated-column entry IS a check on batches that carry the
    // column explicitly: the value must null-safely equal the
    // expression (writers can't stamp conflicting derived values)
    val cons = base.constraints
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
            s"in the incoming batch for ${base.table}; e.g. $examples")
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
    snapshotOrEmpty(table, version).mapping

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
    val base = snapshot(table, None)
    val mapping = base.mapping
    val logicalNames = base.physicalSchema.fieldNames.map(p => mapping.getOrElse(p, p))
    require(logicalNames.contains(from), s"no column '$from' in $table")
    require(!logicalNames.contains(to), s"column '$to' already exists in $table")
    val word = java.util.regex.Pattern.compile(s"\\b${java.util.regex.Pattern.quote(from)}\\b")
    base.constraints.foreach { case (k, ex) =>
      if (!k.startsWith(MapPrefix) && word.matcher(ex).find())
        throw new IllegalArgumentException(
          s"cannot rename '$from': constraint/generated entry '$k' ($ex) references it")
    }
    // a column that IS a generated column can't be renamed either: its
    // `_gen:<from>` entry is keyed by (logical) name, so a rename would
    // leave the stamp/CHECK machinery bound to the stale key and a
    // later batch carrying the new name would get a SECOND stamped
    // column — reject loudly (drop the generated column first)
    require(!base.generated.contains(from),
      s"cannot rename '$from': it is a generated column " +
        s"(drop the ${GenPrefix}${from} entry first)")
    // the physical name behind `from`: an earlier mapping's key, or
    // `from` itself on first rename
    val phys = base.physicalName(from)
    val cons = base.constraints - (MapPrefix + phys)
    val entry = if (to == phys) Map.empty[String, String]
                else Map(MapPrefix + phys -> to) // rename-back drops the entry
    commitConstraints(base, cons ++ entry)
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
    val base = snapshot(table, None)
    require(!base.constraints.contains(name),
      s"constraint '$name' already exists on $table")
    // resolve against the schema first (clear analysis error), then
    // vet the whole table
    val existing = scan(spark, base)
    existing.limit(0).filter(expr(exprSql)).queryExecution.analyzed
    val bad = existing.filter(expr(exprSql) <=> lit(false)).count()
    require(bad == 0L,
      s"cannot add constraint '$name' ($exprSql): $bad existing row(s) violate it")
    commitConstraints(base, base.constraints + (name -> exprSql))
  }

  /** Drop a named CHECK constraint (metadata-only commit). */
  def dropConstraint(table: String, name: String): Int = {
    val base = latest(table)
    require(base.constraints.contains(name), s"no constraint '$name' on $table")
    commitConstraints(base, base.constraints - name)
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
    snapshotOrEmpty(table, version).generated

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
    val base = snapshot(table, None)
    require(!base.generated.contains(column),
      s"generated column '$column' already registered on $table")
    val existing = scan(spark, base)
    // the expression must analyze against the current schema
    existing.limit(0).withColumn(column, expr(exprSql))
      .queryExecution.analyzed
    if (existing.columns.contains(column)) {
      val bad = existing
        .filter(!(col(column) <=> expr(exprSql))).count()
      require(bad == 0L, s"cannot register generated column '$column' " +
        s"($exprSql): $bad existing row(s) disagree with the expression")
    }
    commitConstraints(base, base.constraints + (GenPrefix + column -> exprSql))
  }

  /** Un-register a generated column (metadata-only; data keeps the
    * already-materialized values).
    */
  def dropGeneratedColumn(table: String, column: String): Int = {
    val base = latest(table)
    require(base.generated.contains(column),
      s"no generated column '$column' on $table")
    commitConstraints(base, base.constraints - (GenPrefix + column))
  }

  /** Fill in any generated column of `base` the batch omitted.
    * Batches that DO carry the column pass through untouched here and
    * are vetted by [[enforceConstraints]]' `<=>` check instead.
    */
  private def applyGenerated(df: DataFrame, base: Snapshot): DataFrame = {
    import org.apache.spark.sql.functions.expr
    base.generated.foldLeft(df) { case (d, (c, e)) =>
      if (d.columns.contains(c)) d else d.withColumn(c, expr(e))
    }
  }

  /** Recompute every generated column unconditionally — for row-
    * REWRITE paths (UPDATE / MERGE output) where a base column may
    * just have changed: generated values are system-maintained, so
    * they follow the new bases rather than surviving stale.
    */
  private def recomputeGenerated(df: DataFrame, base: Snapshot): DataFrame = {
    import org.apache.spark.sql.functions.expr
    base.generated.foldLeft(df) { case (d, (c, e)) =>
      d.withColumn(c, expr(e))
    }
  }

  /** Metadata-only commit replacing `base`'s constraints map with
    * `next`; a lost race re-publishes `next` on the winner's snapshot.
    */
  private def commitConstraints(base: Snapshot,
                                next: Map[String, String]): Int = {
    require(base.exists, s"${base.table} has no committed version")
    retrying(base, "constraint commit") { b =>
      publish(b.copy(version = b.version + 1, constraints = next))
    }
  }

  /** The snapshot's PHYSICAL schema: the column names the data files
    * carry, from the manifest alone. On a renamed table [[read]]
    * shows the logical names of [[columnMappingOf]] instead.
    */
  def schemaOf(spark: SparkSession, table: String,
               version: Option[Int] = None): StructType =
    snapshot(table, version).physicalSchema

  /** Absolute paths of the files a pruned read would open — the DSv2
    * scan builds its file index from exactly this list.
    */
  def filePathsForRead(table: String, version: Option[Int] = None,
                       prune: Seq[ColRange] = Nil): Seq[String] =
    sizedFilesForRead(table, version, prune).map(_._1)

  /** (absolute path, byte size) of the files a pruned read would open:
    * readers build their file index from the manifest alone, with no
    * storage listing.
    */
  def sizedFilesForRead(table: String, version: Option[Int] = None,
                        prune: Seq[ColRange] = Nil,
                        probes: Seq[ColProbe] = Nil): Seq[(String, Long)] =
    snapshot(table, version).sizedFiles(prune, probes)

  /** The files a pruned read would open — exposed so tests and PLANS.md
    * can assert data-skipping without inspecting the scan.
    */
  def filesForRead(table: String, version: Option[Int] = None,
                   prune: Seq[ColRange] = Nil,
                   probes: Seq[ColProbe] = Nil): Seq[String] =
    snapshot(table, version).pruned(prune, probes).map(_.name)

  /** Split `base`'s files into (candidates, untouched) for a
    * copy-on-write rewrite: `condition` resolves + constant-folds
    * against the snapshot's schema (the raw Column holds unresolved
    * nodes), then its conjuncts translate to stat ranges exactly like
    * the DSv2 scan does. Only candidates might hold a matching row.
    */
  private def rewriteCandidates(spark: SparkSession, base: Snapshot,
                                condition: org.apache.spark.sql.Column)
      : (Seq[FileEntry], Seq[FileEntry]) = {
    val resolvedConds = scan(spark, base).filter(condition)
      .queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }
    val ranges = graft.sources.v2.SnapshotPredicates.ranges(resolvedConds)
    base.entries.partition(fe => ranges.forall(r => rangeKeeps(fe.stats, r)))
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
    // a lost race re-prunes + re-filters the winner's snapshot
    retrying(latest(table), "delete") { base =>
      val (candidates, untouched) =
        if (base.exists) rewriteCandidates(spark, base, condition) else (Nil, Nil)
      if (candidates.isEmpty) Some(None)
      else {
        val survivors = toPhysical(
          frameOf(spark, table, base.physicalSchema, candidates, base.mapping)
            .filter(keep), base.mapping)
        // materialize before the rewrite: survivors read the files being
        // replaced only logically — writeData stages to new files, but a
        // lost race must re-filter against a DIFFERENT snapshot anyway
        val newFiles = Materialize.scope {
          writeData(Materialize.localCheckpoint(survivors), table)
        }
        publishFiles(base, untouched ++ newFiles, base.schema, base.txns).map(Some(_))
      }
    }
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
    retrying(latest(table), "update") { base =>
      val (candidates, untouched) =
        if (base.exists) rewriteCandidates(spark, base, condition) else (Nil, Nil)
      if (candidates.isEmpty) Some(None)
      else {
        val mapping = base.mapping
        val tgtSchemaPhys = base.physicalSchema
        // the LOGICAL view of the target schema: set/cond reference
        // logical names; files keep physical ones
        val tgtSchema = StructType(
          tgtSchemaPhys.map(f => f.copy(name = mapping.getOrElse(f.name, f.name))))
        set.keys.foreach(c => require(tgtSchema.fieldNames.contains(c),
          s"UPDATE SET references unknown column $c"))
        set.keys.foreach(c => require(!base.generated.contains(c),
          s"UPDATE SET cannot target generated column $c (it is " +
            "recomputed from its expression)"))
        val rewritten0 = frameOf(spark, table, tgtSchemaPhys, candidates, mapping)
          .select(tgtSchema.fieldNames.toSeq.map { c =>
            set.get(c) match {
              case Some(expr) =>
                when(cond, expr).otherwise(col(c)).cast(tgtSchema(c).dataType).as(c)
              case None => col(c)
            }
          }: _*)
        // rewritten rows follow their (possibly updated) bases
        val rewritten = toPhysical(recomputeGenerated(rewritten0, base), mapping)
        val newFiles = Materialize.scope {
          writeData(Materialize.localCheckpoint(rewritten), table)
        }
        publishFiles(base, untouched ++ newFiles, base.schema, base.txns).map(Some(_))
      }
    }
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
    val first = latest(table)
    require(first.mapping.isEmpty,
      s"MERGE on a column-mapped table is not supported yet ($table " +
        "carries renames) - upsert/update/delete are mapping-aware")
    mergeDeduped(spark, first,
      Materialize.localCheckpoint(updates.dropDuplicates(key)), key,
      whenMatchedUpdate, whenMatchedDelete, whenNotMatchedInsert, txn)
  }

  private def mergeDeduped(spark: SparkSession, first: Snapshot,
                           deduped: DataFrame, key: String,
                           whenMatchedUpdate: Map[String, org.apache.spark.sql.Column],
                           whenMatchedDelete: Option[org.apache.spark.sql.Column],
                           whenNotMatchedInsert: Boolean,
                           txn: Map[String, Long]): Int = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not, struct}
    val table = first.table
    // empty source: nothing can match or insert — without this guard a
    // null key envelope would make EVERY file a rewrite candidate and
    // copy the whole table for a no-op (an empty foreachBatch batch)
    if (deduped.isEmpty)
      return if (first.exists) first.version else create(table, deduped.schema)
    // the source key envelope: one tiny agg, reused every retry
    val bounds = deduped.agg(
      org.apache.spark.sql.functions.min(col(key)),
      org.apache.spark.sql.functions.max(col(key))).head()
    val keyRange =
      if (bounds.isNullAt(0)) None
      else Some(ColRange(key, Some(toStatVal(bounds.get(0))), Some(toStatVal(bounds.get(1)))))

    // a lost race re-prunes + re-merges against the winner
    retrying(first, "merge") { base =>
      // idempotence: an already-recorded (writer, version) pair makes
      // this delivery a replay — additive updates must not re-apply
      if (txn.nonEmpty &&
          txn.forall { case (w, v0) => base.txns.get(w).exists(_ >= v0) })
        Some(math.max(base.version, 0))
      else {
        val (candidates, untouched) =
          base.entries.partition(fe => keyRange.forall(r => rangeKeeps(fe.stats, r)))
        val tgtSchema = base.schema.getOrElse(deduped.schema)
        val targetCols = tgtSchema.fieldNames.toSeq
        // merge rejects column-mapped tables: physical names throughout
        val candidateDf = frameOf(spark, table, tgtSchema, candidates, Map.empty)

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
        val output = recomputeGenerated(output0, base)
        // enforce on the MERGED output (updates may transform values),
        // before any data lands
        enforceConstraints(output, base)
        val newFiles = Materialize.scope {
          writeData(Materialize.localCheckpoint(output), table)
        }
        // recomputeGenerated may have materialized a registered column
        // the schema did not carry yet — publish the evolved shape
        publishFiles(base, untouched ++ newFiles,
          Some(evolveSchema(tgtSchema, output.schema)), base.txns ++ txn)
      }
    }
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

  /** (absolute path, byte size) of the data files present in
    * `toVersion`'s manifest but not in `sinceVersion`'s (the streaming
    * micro-batch file set; `sinceVersion < 0` means everything in
    * `toVersion`).
    */
  def addedPathsBetween(table: String, sinceVersion: Int,
                        toVersion: Int): Seq[(String, Long)] =
    addedEntries(snapshotFrom(table, sinceVersion), snapshotAt(table, toVersion))
      .map(sized(table, _))

  /** The snapshot at `version`; the empty one before the first commit. */
  private def snapshotFrom(table: String, version: Int): Snapshot =
    if (version < 0) emptySnapshot(table) else snapshotAt(table, version)

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
  private def addedEntries(lo: Snapshot, hi: Snapshot): Seq[FileEntry] = {
    val loChunkNames = lo.chunks.map(_.name).toSet
    if (loChunkNames.subsetOf(hi.chunks.map(_.name).toSet)) {
      val loInlineNames = lo.inline.map(_.name).toSet
      (hi.chunks.filterNot(c => loChunkNames(c.name))
        .flatMap(c => readChunkFile(hi.table, c.name)) ++ hi.inline)
        .filterNot(fe => loInlineNames(fe.name))
    } else {
      val prev = lo.entries.map(_.name).toSet
      hi.entries.filterNot(fe => prev(fe.name))
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
              sortBy: Seq[String] = Nil): Option[Int] =
    retrying(latest(table), "compaction") { base =>
      val (small, big) = base.entries.partition(_.size < targetFileBytes)
      if (small.length < 2) Some(None)
      else {
        val smallBytes = small.map(_.size).sum
        val bins = math.max(1, math.ceil(smallBytes.toDouble / targetFileBytes).toInt)
        // read through the union schema so mixed-schema (evolved) files
        // pack into uniform output files; physical names, as stored
        val smallDf = frameOf(spark, table, base.physicalSchema, small, Map.empty)
        // callers name sort columns LOGICALLY; the files being packed
        // carry physical names on a column-mapped table — translate
        val sortPhys = sortBy.map(base.physicalName)
        // one bin: coalesce feeds the single writer task directly — a
        // repartition would sort and round-robin shuffle every row only
        // to land them in that same task
        val packed =
          if (sortPhys.isEmpty) {
            if (bins == 1) smallDf.coalesce(1) else smallDf.repartition(bins)
          } else smallDf
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
        val bloomCols = small.flatMap(_.blooms.keys).distinct
        val indexed =
          if (bloomCols.isEmpty) newFiles
          else {
            val (bits, k) = small.iterator
              .flatMap(_.blooms.values)
              .map { enc => val a = enc.split(":", 3); (a(0).toInt, a(1).toInt) }
              .reduce((x, y) => (math.max(x._1, y._1), math.max(x._2, y._2)))
            buildBlooms(spark, table, base.physicalSchema, newFiles, bloomCols, bits, k)
          }
        publishFiles(base, big ++ indexed, base.schema, base.txns)
          .map(Some(_))
      }
    }

  /** File names added by `version` relative to `version - 1` (the
    * manifest diff).
    */
  def addedFiles(table: String, version: Int): Seq[String] =
    addedEntries(snapshotFrom(table, version - 1), snapshotAt(table, version))
      .map(_.name)

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
    val hiSnap = snapshot(table, toVersion)
    val hi = hiSnap.version
    require(sinceVersion <= hi,
      s"sinceVersion $sinceVersion is beyond latest version $hi")
    // all versions' files read through the END version's union schema
    // so the change feed has one consistent shape; the END version's
    // column MAPPING is applied too — data files keep physical names
    // forever, and a CDC consumer of a renamed table must see the same
    // logical names a plain read() shows (the empty-diff path below
    // goes through read() and is logical already)
    // each version in [sinceVersion, hi] is parsed once
    val snaps = (sinceVersion until hi).map(snapshotFrom(table, _)) :+ hiSnap
    val parts = snaps.zip(snaps.tail).flatMap { case (lo, cur) =>
      val added = addedEntries(lo, cur)
      // `cur` lists files, so it records a schema even where `hiSnap`
      // lists none
      if (added.isEmpty) None
      else Some(frameOf(spark, table, hiSnap.schema.getOrElse(cur.physicalSchema),
          added, hiSnap.mapping)
        .withColumn("_commit_version", lit(cur.version)))
    }
    if (parts.isEmpty) {
      // preserve the table schema (plus the version tag) for an empty diff
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        scan(spark, hiSnap).schema
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
    val target = snapshotAt(table, version)
    retrying(snapshot(table, None), "restore") { base =>
      publishFiles(base, target.entries, target.schema, base.txns)
    }
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
    val source = snapshot(src, version)
    Files.createDirectories(dataDir(dst))
    source.entries.foreach { fe =>
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
    val (chunks, inline) = layout(dst, source.entries)
    require(publish(Snapshot(dst, 0, chunks, inline, source.schema,
      Map.empty, source.constraints)).isDefined,
      s"lost the create race on $dst")
    0
  }

  /** Version history: (version, n_files, total_bytes) for every
    * manifest still present, from the recorded sizes — the audit
    * surface for time travel, vacuum and restore decisions.
    */
  def history(table: String): Seq[(Int, Int, Long)] =
    manifestVersions(table).sorted.map { v =>
      val files = snapshotAt(table, v).entries
      (v, files.size, files.map(_.size).sum)
    }

  /** Drop data files not referenced by the latest `keepVersions`
    * manifests, and the older manifests themselves. The keep range is
    * intersected with the manifests actually present, so re-vacuuming
    * after an earlier, tighter vacuum never trips over already-deleted
    * manifests.
    */
  def vacuum(table: String, keepVersions: Int = 1): Unit = {
    val present = manifestVersions(table).toSet
    if (present.isEmpty) return
    val keep = (math.max(0, present.max - keepVersions + 1) to present.max)
      .filter(present.contains)
    val kept = keep.map(snapshotAt(table, _))
    val referenced = kept.flatMap(_.entries.map(_.name)).toSet
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
      val refChunks = kept.flatMap(_.chunks.map(_.name)).toSet
      listDir(chunksDir(table))(_
        .filter(p => !refChunks.contains(p.getFileName.toString))
        .foreach(Files.delete))
    }
  }
}
