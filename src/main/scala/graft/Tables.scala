package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * Every `SparkEntry.queries` entry reads through here so that the scan
  * options (and any future bucketing / caching decisions) live in one
  * place. Parquet + Catalyst give projection/predicate pushdown for free;
  * at 100 TB the same code reads a cloud-storage prefix instead of a
  * local dir — nothing else changes.
  */
object Tables {
  /** Inferred parquet schema per table path, memoized for the JVM's
    * lifetime. `spark.read.parquet(path)` re-infers the schema on
    * EVERY call — file listing plus a footer-read pass that measured
    * ~70 ms per load at sf0.1 (354 ms vs 25 ms for 5 tables; a trivial
    * one-table query 262 ms vs 75 ms end-to-end). Every `queries`
    * entry loads 1–3 tables per invocation and the bench invokes each
    * entry twice, so inference alone contributed tens of seconds of
    * pure per-query fixed floor across the 331-query suite (guide
    * §1.2: fix the machinery around the scan before the scan itself).
    * The cache holds METADATA only (the schema a production deployment
    * would get from its catalog — never rows, never results): every
    * execution still scans parquet. Each entry remembers the path's
    * modification time, and a path rewritten since (possibly with
    * another schema) is inferred again; an unchanged path costs one
    * file-status call.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, (Long, org.apache.spark.sql.types.StructType)]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val p = new org.apache.hadoop.fs.Path(path)
    val mtime = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getModificationTime
    val (_, schema) = schemaCache.compute(path, (_, cached) =>
      if (cached != null && cached._1 == mtime) cached
      else (mtime, spark.read.parquet(path).schema))
    spark.read.schema(schema).parquet(path)
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
  /** `events.ts` has shipped as three different parquet logical types
    * across driver testdata regenerations; normalize all of them to one
    * session-TZ TIMESTAMP so every downstream operator sees one type:
    *  - TIMESTAMP(NANOS): Spark's reader rejects it outright; read as
    *    nanos-since-epoch long (`nanosAsLong`, set in [[configure]]) and
    *    convert with exact integer division (a double path would lose
    *    precision above 2^53).
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) → TIMESTAMP_NTZ: cast
    *    to TIMESTAMP under the UTC session (wall-clock preserved).
    *  - TIMESTAMP(MICROS, adjusted) → already TimestampType.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // Set defensively at runtime: the driver calls entry()/queries with
    // its own (unconfigured) session and the confs are session-scoped.
    // The timezone matters for flavor-equivalence: the NTZ→timestamp
    // cast reinterprets the wall-clock in the SESSION zone, so a
    // non-UTC session would shift the micros_ntz flavor against the
    // nanos/adjusted flavors by the zone offset.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // FLOOR division in pure long arithmetic (ts - pmod is always
        // a multiple of 1000): pyarrow's ns→us narrowing floors, while
        // SQL DIV truncates toward zero — they differ on pre-epoch
        // (negative) nanos by 1µs. A floor() through double would lose
        // precision above 2^53 ns (~1970+104 days).
        raw.withColumn("ts",
          timestamp_micros(expr("(ts - pmod(ts, 1000L)) DIV 1000L")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  /** Normalize a column to `want` only when the shipped flavor
    * differs — the common path stays a bare scan (no cast in the way
    * of pushdown), and a regenerated-testdata type drift (the q38
    * incident, but for ints/arrays) lands on one pinned type instead
    * of surprising typed code (`Row.getLong` on an int32 column
    * throws; an encoder on `Array[Float]` breaks on list<double>).
    */
  private def pinType(df: DataFrame, column: String,
                      want: org.apache.spark.sql.types.DataType): DataFrame =
    if (df.schema(column).dataType == want) df
    else df.withColumn(column, col(column).cast(want))

  /** `doc_id`/`n_chars` pinned BIGINT (values compare numerically in
    * the driver gate, so a narrower shipped flavor stays green).
    */
  def documents(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val raw = load(spark, dir, "documents")
    pinType(pinType(raw, "doc_id", LongType), "n_chars", LongType)
  }

  /** `vec_id` BIGINT, `embedding` array<float>, `label` INT — the
    * flavors every operator/spec was written against. float32→float64
    * drift casts back exactly (the shipped values are float32-exact).
    */
  def embeddings(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val raw = load(spark, dir, "embeddings")
    val ided = pinType(pinType(raw, "vec_id", LongType), "label", IntegerType)
    ided.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => ided // nullability flavor is fine
      case _ => ided.withColumn("embedding",
        col("embedding").cast(ArrayType(FloatType)))
    }
  }

  /** Session defaults shared by Verify / Bench / tests.
    *
    * - ANSI off: the reference's ingest semantics are null-on-bad-cast
    *   (`blobToCosmos.py:62-70`); Spark 4 defaults ANSI on, which would
    *   throw instead.
    * - shuffle.partitions sized to the local core count; on a real
    *   cluster this is executor-count-aware (AQE coalesces anyway).
    * - codegen.cache.maxEntries 1000 (Spark's default is 100): the
    *   cache of Janino-compiled classes is JVM-wide and sized once,
    *   from the SQL conf active at its first use. One curation pass
    *   (q302, q73, q101, q19) generates ~265–285 distinct classes, so
    *   at 100 entries every pass recompiled 181 of them although its
    *   plans were identical to the previous pass's. At 1000 a repeated
    *   pass compiles single digits. Each cached class holds ~20 KB of
    *   driver heap: after a perfbench curation run (4 vCPU,
    *   `local[4]`) the heap retains 3.9 MB more than at 100 entries.
    *   A session built without this call, such as a caller's raw
    *   `SparkSession`, keeps 100.
    * - codegen.useIdInClassName off: the cache is keyed by the generated
    *   source, and by default the whole-stage codegen stage id is part
    *   of the class name. AQE numbers the stages it creates in the order
    *   their inputs finish, so an identical plan often came back under
    *   another id and recompiled (8 to 22 of a repeated curation pass's
    *   classes, all identical to a first-pass class but for the id).
    */
  def configure(b: SparkSession.Builder, cpus: String): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
}
