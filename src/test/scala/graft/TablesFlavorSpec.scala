package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.types._

/** Guards against driver-testdata type drift on the documents and
  * embeddings tables — the q38/events precedent applied to the other
  * two regenerated-schema surfaces (VERDICT r7 #6). Checked-in sf0.001
  * fixtures (tools/gen_tables_flavor_fixtures.py) re-encode the same
  * VALUES under the plausible drift flavors:
  *
  *   documents: doc_id/n_chars int32, strings DELTA_BYTE_ARRAY
  *   embeddings: vec_id int32, embedding list<float64>, label int64
  *
  * `Tables.documents`/`Tables.embeddings` pin the types every operator
  * was written against (BIGINT ids, array<float>, INT label), so each
  * replayed gate query must return identical results on either flavor.
  */
class TablesFlavorSpec extends SparkSpec {

  private val allTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** testdata dir = sf0.001 with `table`.parquet swapped for a fixture. */
  private def variantDir(fixture: String, table: String): String = {
    val d = Files.createTempDirectory(s"graft_flavor_$table")
    allTables.foreach { t =>
      Files.copy(Paths.get(s"$Sf0001/$t.parquet"), d.resolve(s"$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val in = getClass.getResourceAsStream(s"/tables_flavor/$fixture.parquet")
    assert(in != null, s"missing fixture $fixture.parquet")
    try Files.copy(in, d.resolve(s"$table.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    finally in.close()
    d.toString
  }

  private lazy val narrowDocsDir = variantDir("documents_narrow", "documents")
  private lazy val wideEmbDir = variantDir("embeddings_wide", "embeddings")

  test("Tables pins the drifted flavors back to the published types") {
    val d = Tables.documents(spark, narrowDocsDir).schema
    assert(d("doc_id").dataType == LongType)
    assert(d("n_chars").dataType == LongType)
    val e = Tables.embeddings(spark, wideEmbDir).schema
    assert(e("vec_id").dataType == LongType)
    assert(e("embedding").dataType.asInstanceOf[ArrayType].elementType
      == FloatType)
    assert(e("label").dataType == IntegerType)
  }

  test("load re-infers the schema of a path rewritten with another flavor") {
    val d = Files.createTempDirectory("graft_rewrite")
    val docs = d.resolve("documents.parquet")
    Files.copy(Paths.get(s"$Sf0001/documents.parquet"), docs)
    assert(Tables.load(spark, d.toString, "documents")
      .schema("doc_id").dataType == LongType)
    val in = getClass.getResourceAsStream("/tables_flavor/documents_narrow.parquet")
    try Files.copy(in, docs, StandardCopyOption.REPLACE_EXISTING)
    finally in.close()
    val reloaded = Tables.load(spark, d.toString, "documents")
    assert(reloaded.schema("doc_id").dataType == IntegerType)
    assert(reloaded.count() == Tables.load(spark, Sf0001, "documents").count())
  }

  // One query per distinct type-consumption path: text regex/tokens,
  // shingle/hash machinery, doc_id arithmetic + portable hashing,
  // n_chars arithmetic, sha2 dedup, BPE dict, per-source windows.
  private val docQueries = Seq(
    "q17_dedup_exact_keep", "q19_ngram_jaccard", "q22_token_stats",
    "q23_langid", "q24_fingerprint", "q53_repetition", "q60_hash_split",
    "q77_temperature_mix", "q79_pack_by_cost", "q82_bpe_dict",
    "q91_quality_quantile_gate",
    // WordPiece: per-char substring matching over text
    "q124_wordpiece_encode")

  // Cosine/top-k, label centroids, IVF assign+probe, hyperplane LSH,
  // PQ encode/ADC — every float-array consumption path.
  private val embQueries = Seq(
    "q25_cosine_topk", "q26_label_centroids", "q27_ivf_ann",
    "q39_cosine_neardup", "q49_ivf_assign", "q50_lsh_candidates",
    "q56_pq_encode", "q57_pq_adc",
    // fixed-point floor(v*1e6) sums: a float64 flavor must land on
    // the same integers after the published-float32 pin
    "q120_centroid_drift")

  test("flavor-spec query lists exist in SparkEntry.queries") {
    val missing =
      (docQueries ++ embQueries).filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"stale spec list: $missing")
  }

  private def assertSameResults(name: String, dirA: String,
                                dirB: String): Unit = {
    val fn = SparkEntry.queries(name)
    val a = fn(spark, dirA).collect().map(_.toString).sorted.toSeq
    val b = fn(spark, dirB).collect().map(_.toString).sorted.toSeq
    assert(a.size == b.size, s"$name: ${a.size} vs ${b.size} rows")
    a.zip(b).zipWithIndex.collectFirst { case ((x, y), i) if x != y =>
      fail(s"$name: first diff at sorted row $i: baseline=$x flavored=$y")
    }
    assert(a.nonEmpty, s"$name returned no rows")
  }

  docQueries.foreach { name =>
    test(s"$name: identical on int32/DELTA_BYTE_ARRAY documents") {
      assertSameResults(name, Sf0001, narrowDocsDir)
    }
  }

  embQueries.foreach { name =>
    test(s"$name: identical on float64/int64 embeddings") {
      assertSameResults(name, Sf0001, wideEmbDir)
    }
  }
}
