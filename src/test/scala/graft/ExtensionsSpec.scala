package graft

import graft.expressions.RollingHash
import org.apache.spark.sql.Row

/** SQL-surface registration via GraftExtensions: the native
  * expressions must be callable from pure `spark.sql`, and agree with
  * their DataFrame/semantic-oracle forms.
  */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("rolling_hash SQL function matches the Scala reference hash") {
    val got = spark.sql("SELECT rolling_hash('hello world') AS h")
      .head().getLong(0)
    assert(got == RollingHash.hash("hello world"))
  }

  test("dot_product SQL function: fold semantics and NULL on length mismatch") {
    val r = spark.sql(
      """SELECT dot_product(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d,
        |       dot_product(array(1.0D), array(1.0D, 2.0D)) AS mism""".stripMargin)
      .head()
    assert(r.getDouble(0) == 32.0)
    assert(r.isNullAt(1))
  }

  test("shingles SQL function matches ShingleArray over a real column") {
    val df = Seq("the quick brown fox", "a b").toDF("text")
    df.createOrReplaceTempView("shingle_in")
    val got = spark.sql("SELECT shingles(text, 2) AS sh FROM shingle_in")
      .collect().map(_.getSeq[String](0).toList).toList
    assert(got == List(
      List("the quick", "quick brown", "brown fox"),
      List("a b")))
    // non-literal n is rejected with a clear message
    val e = intercept[Exception] {
      spark.sql("SELECT shingles(text, length(text)) FROM shingle_in").collect()
    }
    assert(e.getMessage.contains("literal"))
  }

  test("adc_score SQL function: lookup sum and NULL on bad code") {
    val r = spark.sql(
      """SELECT adc_score(array(1, 0), array(array(1.0D, 2.0D), array(3.0D, 4.0D))) AS s,
        |       adc_score(array(5), array(array(1.0D))) AS bad""".stripMargin)
      .head()
    assert(r.getDouble(0) == 5.0) // lut[0][1] + lut[1][0]
    assert(r.isNullAt(1))
  }

  test("pair_combinations SQL generator explodes unordered pairs") {
    val rows = spark.sql(
      """SELECT pair_combinations(array(
        |  named_struct('id', 1L), named_struct('id', 2L),
        |  named_struct('id', 3L)))""".stripMargin)
      .collect().toList
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).sorted ==
      List((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  // ---- table-valued SQL surface for the table-shaped operators ----

  test("chi2 table function from pure SQL matches the DataFrame API") {
    spark.range(200).selectExpr("id % 3 = 0 AS a", "id % 5 = 0 AS b")
      .createOrReplaceTempView("chi2_in")
    val sql = spark.sql("SELECT * FROM chi2('chi2_in', 'a', 'b')").collect()
    val api = graft.core.Eval.chiSquare(spark.table("chi2_in"),
      org.apache.spark.sql.functions.col("a"),
      org.apache.spark.sql.functions.col("b")).collect()
    assert(sql.toSeq == api.toSeq)
  }

  test("mann_whitney and log_rank table functions match the API") {
    spark.range(300).selectExpr(
      "id AS k", "CASE WHEN id % 2 = 0 THEN 'A' ELSE 'B' END AS arm",
      "CAST((id * 37) % 100 AS BIGINT) AS v",
      "CAST(1 + id % 20 AS BIGINT) AS dur", "id % 3 = 0 AS death")
      .createOrReplaceTempView("mw_in")
    val mwSql = spark.sql(
      "SELECT * FROM mann_whitney('mw_in', 'k', 'arm', 'v', 'A', 'B')")
      .collect()
    val mwApi = graft.core.Eval.mannWhitneyU(spark.table("mw_in"),
      $"k", $"arm", $"v", "A", "B").collect()
    assert(mwSql.toSeq == mwApi.toSeq)
    val lrSql = spark.sql(
      "SELECT * FROM log_rank('mw_in', 'k', 'dur', 'death', 'arm = \\'A\\'')")
      .collect()
    val lrApi = graft.core.Eval.logRank(spark.table("mw_in"),
      $"k", $"dur", $"death", org.apache.spark.sql.functions.expr("arm = 'A'"))
      .collect()
    assert(lrSql.toSeq == lrApi.toSeq)
  }

  test("bm25_topk and retrieval_map table functions match the API") {
    Seq((1L, "spark shuffles data across the cluster"),
        (2L, "spark caches hot data in memory"),
        (3L, "ducks swim across the pond"),
        (4L, "the cluster shuffles spark data"))
      .toDF("doc_id", "text").createOrReplaceTempView("bm_docs")
    Seq((10L, "spark data"), (11L, "pond ducks"))
      .toDF("doc_id", "text").createOrReplaceTempView("bm_queries")
    val sql = spark.sql("SELECT * FROM bm25_topk('bm_docs', 'bm_queries', 3)")
    sql.createOrReplaceTempView("bm_ranked")
    val api = graft.core.Retrieval.bm25TopK(
      spark.table("bm_docs"), spark.table("bm_queries"), k = 3)
    assert(sql.collect().toSeq == api.collect().toSeq)
    Seq((10L, 1L), (10L, 2L), (11L, 3L))
      .toDF("query_id", "doc_id").createOrReplaceTempView("bm_rel")
    val mapSql = spark.sql(
      "SELECT * FROM retrieval_map('bm_ranked', 'bm_rel', 3)").collect()
    val mapApi = graft.core.Retrieval.mapAtK(api, spark.table("bm_rel"),
      k = 3).collect()
    assert(mapSql.toSeq == mapApi.toSeq)
  }

  test("longest_repeats table function matches the API") {
    Seq((1L, "a shared block of text right here"),
        (2L, "prefix a shared block of text right here suffix"),
        (3L, "something else entirely again"))
      .toDF("doc_id", "text").createOrReplaceTempView("lr_in")
    val sql = spark.sql(
      "SELECT * FROM longest_repeats('lr_in', 'doc_id', 'text', 3, 5)")
      .collect()
    val api = graft.core.SuffixArray.longestRepeats(
      spark.table("lr_in"), "doc_id", "text", minLen = 3, topK = 5)
      .collect()
    assert(sql.toSeq == api.toSeq)
    assert(sql.nonEmpty)
  }

  test("table functions reject non-literal arguments loudly") {
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM chi2(concat('a', rand()), 'x', 'y')").collect()
    }
    assert(e.getMessage != null)
  }

  test("round-12 table functions match their DataFrame APIs") {
    import org.apache.spark.sql.functions.{col, expr}
    spark.range(400).selectExpr("id AS u",
      "CASE WHEN id % 7 = 0 THEN 'buy' WHEN id % 3 = 0 THEN 'A' ELSE 'B' END AS ch")
      .createOrReplaceTempView("r12_ev")
    val shSql = spark.sql(
      "SELECT * FROM shapley('r12_ev', 'u', 'ch', \"ch = 'buy'\")").collect()
    val shApi = graft.core.Eval.shapleyAttribution(spark.table("r12_ev"),
      col("u"), col("ch"), expr("ch = 'buy'")).collect()
    assert(shSql.toSet == shApi.toSet && shSql.nonEmpty)

    spark.range(300).selectExpr("CAST(id % 2 AS STRING) AS g",
      "id AS rid", "CAST((id * 31) % 997 AS BIGINT) AS y")
      .createOrReplaceTempView("r12_cf")
    val cfSql = spark.sql(
      "SELECT * FROM conformal('r12_cf', 'g', 'rid', 'y')").collect()
    val cfApi = graft.core.Eval.conformalCalibrate(spark.table("r12_cf"),
      col("g"), col("rid"), col("y")).collect()
    assert(cfSql.toSet == cfApi.toSet && cfSql.nonEmpty)

    // arm must not align with the g = id % 2 grouping or an arm is empty
    val wSql = spark.sql(
      "SELECT * FROM wasserstein1('r12_cf', 'g', 'y', 'rid % 4 < 2')")
      .collect()
    val wApi = graft.core.Profile.wasserstein1(spark.table("r12_cf"),
      "g", col("y"), expr("rid % 4 < 2")).collect()
    assert(wSql.toSet == wApi.toSet && wSql.nonEmpty)

    spark.range(100).selectExpr("id", "CAST((id * 13) % 50 AS BIGINT) AS x",
      "CAST((id * 7) % 40 AS BIGINT) AS y")
      .createOrReplaceTempView("r12_sky")
    val skSql = spark.sql(
      "SELECT * FROM skyline2d('r12_sky', 'id', 'x', 'y')").collect()
    val skApi = graft.core.Skyline.skyline2d(spark.table("r12_sky"),
      col("id"), col("x"), col("y")).collect()
    assert(skSql.toSet == skApi.toSet && skSql.nonEmpty)

    Seq((1L, "hello world"), (2L, "hello werld"), (3L, "other thing"))
      .toDF("id", "s").createOrReplaceTempView("r12_ed")
    val edSql = spark.sql(
      "SELECT * FROM edit_neardup('r12_ed', 'id', 's', 2, 3)").collect()
    val edApi = graft.core.Dedup.editNearDupPairs(spark.table("r12_ed"),
      "id", "s", k = 2, q = 3).collect()
    assert(edSql.toSet == edApi.toSet && edSql.nonEmpty)

    Seq(("s1", "d1"), ("s1", "d2"), ("s2", "d1"))
      .toDF("src", "dst").createOrReplaceTempView("r12_g")
    val hSql = spark.sql("SELECT * FROM hits('r12_g', 'src', 'dst', 2)")
      .collect()
    val hApi = graft.core.GraphOps.hits(spark.table("r12_g"),
      "src", "dst", 2).collect()
    assert(hSql.toSet == hApi.toSet && hSql.nonEmpty)

    spark.range(50).selectExpr("CAST(id % 5 AS STRING) AS k",
      "CAST(id * 10 AS BIGINT) AS s", "CAST(id * 10 + 15 AS BIGINT) AS e")
      .createOrReplaceTempView("r12_iv")
    val ivSql = spark.sql(
      "SELECT * FROM interval_islands('r12_iv', 'k', 's', 'e')").collect()
    val ivApi = graft.core.TimeSeries.intervalIslands(spark.table("r12_iv"),
      "k", col("s"), col("e")).collect()
    assert(ivSql.toSet == ivApi.toSet && ivSql.nonEmpty)

    val amsSql = spark.sql("SELECT * FROM ams_f2('r12_iv', 'k')").collect()
    val amsApi = graft.core.Sketches.amsF2(spark.table("r12_iv"), col("k"))
      .collect()
    assert(amsSql.toSeq == amsApi.toSeq)

    val rrSql = spark.sql(
      "SELECT * FROM randomized_response('r12_cf', 'g', 'rid', 'y > 400', 100000)")
      .collect()
    val rrApi = graft.core.Privacy.randomizedResponse(spark.table("r12_cf"),
      col("g"), col("rid"), expr("y > 400"), 100000L).collect()
    assert(rrSql.toSet == rrApi.toSet && rrSql.nonEmpty)

    spark.range(60).selectExpr("id", "CAST(id % 3 AS STRING) AS src",
      "CAST((id * 17) % 100 AS BIGINT) AS v")
      .createOrReplaceTempView("r12_qn")
    val qnSql = spark.sql(
      "SELECT * FROM quantile_normalize('r12_qn', 'id', 'src', 'v')")
      .collect()
    val qnApi = graft.core.Profile.quantileNormalize(spark.table("r12_qn"),
      "id", "src", "v").collect()
    assert(qnSql.toSet == qnApi.toSet && qnSql.nonEmpty)
  }

  test("round-12 completion sweep + round-13 table functions from " +
      "pure SQL (VERDICT r12 #8)") {
    import org.apache.spark.sql.functions.{col, expr}
    spark.range(120).selectExpr("CAST(id % 4 AS STRING) AS g",
      "CAST(1 + (id * 13) % 40 AS BIGINT) AS w")
      .createOrReplaceTempView("r13_ap")
    val apSql = spark.sql(
      "SELECT * FROM apportion('r13_ap', 'g', 'w', 1000)").collect()
    val apApi = graft.core.Placement.apportion(spark.table("r13_ap"),
      col("g"), col("w"), budget = 1000L).collect()
    assert(apSql.toSet == apApi.toSet && apSql.nonEmpty)

    spark.range(200).selectExpr("CAST(id % 5 AS STRING) AS k",
      "CAST(id / 5 AS BIGINT) AS o",
      "CAST((id * 7) % 23 + id / 10 AS BIGINT) AS v")
      .createOrReplaceTempView("r13_mk")
    val mkSql = spark.sql(
      "SELECT * FROM mann_kendall('r13_mk', 'k', 'o', 'v')").collect()
    val mkApi = graft.core.TimeSeries.mannKendall(spark.table("r13_mk"),
      "k", "o", "v").collect()
    assert(mkSql.toSet == mkApi.toSet && mkSql.nonEmpty)

    spark.range(90).selectExpr("CAST(id % 30 AS STRING) AS u",
      "CAST((id * 11) % 4 AS STRING) AS lab")
      .createOrReplaceTempView("r13_ka")
    val kaSql = spark.sql(
      "SELECT * FROM krippendorff_alpha('r13_ka', 'u', 'lab')").collect()
    val kaApi = graft.core.Eval.krippendorffAlpha(spark.table("r13_ka"),
      col("u"), col("lab")).collect()
    assert(kaSql.toSeq == kaApi.toSeq && kaSql.nonEmpty)

    val avSql = spark.sql(
      "SELECT * FROM anova('r13_ka', 'u', 'CAST(lab AS BIGINT)')")
      .collect()
    val avApi = graft.core.Eval.anovaOneWay(spark.table("r13_ka"),
      col("u"), expr("CAST(lab AS BIGINT)")).collect()
    assert(avSql.toSeq == avApi.toSeq && avSql.nonEmpty)

    val kwSql = spark.sql(
      "SELECT * FROM kruskal_wallis('r13_ka', 'u', " +
        "'CAST(lab AS BIGINT)')").collect()
    val kwApi = graft.core.Eval.kruskalWallis(spark.table("r13_ka"),
      col("u"), expr("CAST(lab AS BIGINT)")).collect()
    assert(kwSql.toSeq == kwApi.toSeq && kwSql.nonEmpty)

    spark.range(120).selectExpr("CAST(id % 20 AS BIGINT) AS b",
      "CAST(id % 6 AS STRING) AS tr", "CAST((id * 13) % 9 AS BIGINT) AS v")
      .createOrReplaceTempView("r14_fr")
    val frSql = spark.sql(
      "SELECT * FROM friedman('r14_fr', 'b', 'tr', 'v')").collect()
    val frApi = graft.core.Eval.friedman(spark.table("r14_fr"),
      col("b"), col("tr"), col("v")).collect()
    assert(frSql.toSeq == frApi.toSeq && frSql.nonEmpty)
    val cqSql = spark.sql(
      "SELECT * FROM cochran_q('r14_fr', 'b', 'tr', 'v % 2 = 0')")
      .collect()
    val cqApi = graft.core.Eval.cochranQ(spark.table("r14_fr"),
      col("b"), col("tr"), expr("v % 2 = 0")).collect()
    assert(cqSql.toSeq == cqApi.toSeq && cqSql.nonEmpty)

    Seq((1L, "alpha beta gamma delta epsilon tail words here"))
      .toDF("doc_id", "text").createOrReplaceTempView("r14_tr")
    Seq((9L, "alpha beta gamma delta epsilon other suffix"))
      .toDF("doc_id", "text").createOrReplaceTempView("r14_ev")
    val bdSql = spark.sql(
      "SELECT * FROM bloom_decontam('r14_tr', 'r14_ev', " +
        "'doc_id', 'text', 5, 1)").collect()
    val bdApi = graft.core.Decontaminate.flagContaminatedBloom(
      spark.table("r14_tr"), spark.table("r14_ev"),
      "doc_id", "text", n = 5, minHits = 1).collect()
    assert(bdSql.toSeq == bdApi.toSeq && bdSql.nonEmpty)

    spark.range(80).selectExpr("CAST(id % 6 AS STRING) AS s",
      "CAST((id * 17) % 25 AS STRING) AS e")
      .createOrReplaceTempView("r13_sc")
    val scSql = spark.sql(
      "SELECT * FROM set_cover('r13_sc', 's', 'e', 3)").collect()
    val scApi = graft.core.Sampling.greedySetCover(spark.table("r13_sc"),
      "s", "e", k = 3).collect()
    assert(scSql.toSeq == scApi.toSeq && scSql.nonEmpty)

    spark.range(40).selectExpr("CAST(id AS BIGINT) AS x",
      "CAST(id * 3 + 5 AS BIGINT) AS y")
      .createOrReplaceTempView("r13_rl")
    val rlSql = spark.sql(
      "SELECT * FROM ransac_line('r13_rl', 'x', 'y', 8, 0)").collect()
    val rlApi = graft.core.TimeSeries.ransacLine(spark.table("r13_rl"),
      "x", "y", k = 8, epsY = 0L).collect()
    assert(rlSql.toSeq == rlApi.toSeq && rlSql.nonEmpty)

    spark.range(60).selectExpr("CAST(id AS BIGINT) AS a",
      "CAST(id % 12 AS BIGINT) AS b", "CAST(id % 3 AS STRING) AS c")
      .createOrReplaceTempView("r13_fd")
    val fdSql = spark.sql(
      "SELECT * FROM fd_discovery('r13_fd', 'a,b,c')").collect()
    val fdApi = graft.core.Profile.functionalDependencies(
      spark.table("r13_fd"), Seq("a", "b", "c")).collect()
    assert(fdSql.toSet == fdApi.toSet && fdSql.nonEmpty)

    Seq((1L, "alpha beta gamma delta one"),
        (2L, "alpha beta gamma delta two"),
        (3L, "nothing shared at all here"))
      .toDF("doc_id", "text").createOrReplaceTempView("r13_es")
    val esSql = spark.sql(
      "SELECT * FROM exact_substr_dedup('r13_es', 'doc_id', 'text', 4)")
      .collect()
    val esApi = graft.core.SuffixArray.exactSubstrDedup(
      spark.table("r13_es"), "doc_id", "text", minLen = 4).collect()
    assert(esSql.toSet == esApi.toSet && esSql.nonEmpty)

    Seq((1L, Array(0.0f)), (2L, Array(0.125f)), (3L, Array(0.25f)),
        (4L, Array(1.0f)), (5L, Array(1.125f)), (6L, Array(1.25f)))
      .toDF("vec_id", "embedding").createOrReplaceTempView("r13_lb")
    Seq((0L, Array(0.125f)), (1L, Array(1.125f)))
      .toDF("centroid_id", "embedding")
      .createOrReplaceTempView("r13_lb_cents")
    val lbSql = spark.sql(
      "SELECT * FROM lof_bucketed('r13_lb', 'r13_lb_cents', 2, 1)")
      .collect()
    val lbApi = graft.core.Similarity.lofBucketed(spark.table("r13_lb"),
      spark.table("r13_lb_cents"), k = 2, nProbe = 1).collect()
    assert(lbSql.toSet == lbApi.toSet && lbSql.nonEmpty)

    val abSql = spark.sql(
      "SELECT * FROM assign_buckets('r13_lb', 'r13_lb_cents')").collect()
    val abApi = graft.core.Similarity.assignBucketsL2(
      spark.table("r13_lb"), spark.table("r13_lb_cents")).collect()
    assert(abSql.toSet == abApi.toSet && abSql.nonEmpty)

    val haSql = spark.sql(
      "SELECT * FROM hier_assign('r13_lb', 'r13_lb_cents', " +
        "'r13_lb_cents', 2)").collect()
    val haApi = graft.core.Similarity.assignBucketsHierarchical(
      spark.table("r13_lb"), spark.table("r13_lb_cents"),
      spark.table("r13_lb_cents"), wProbe = 2).collect()
    assert(haSql.toSet == haApi.toSet && haSql.nonEmpty)

    val l2Sql = spark.sql(
      "SELECT * FROM lof_two_level('r13_lb', 'r13_lb_cents', " +
        "'r13_lb_cents', 2, 1, 2)").collect()
    val l2Api = graft.core.Similarity.lofBucketedTwoLevel(
      spark.table("r13_lb"), spark.table("r13_lb_cents"),
      spark.table("r13_lb_cents"), k = 2, nProbe = 1, wProbe = 2)
      .collect()
    assert(l2Sql.toSet == l2Api.toSet && l2Sql.nonEmpty)

    Seq((1L, "alpha beta gamma delta epsilon zeta tail one"),
        (2L, "alpha beta gamma delta epsilon zeta other end"),
        (3L, "unrelated words in this third document body"))
      .toDF("doc_id", "text").createOrReplaceTempView("r13_wn")
    val wnSql = spark.sql(
      "SELECT * FROM winnow_pairs('r13_wn', 'doc_id', 'text', 3, 4)")
      .collect()
    val wnApi = graft.core.Dedup.winnowMatchPairs(spark.table("r13_wn"),
      "doc_id", "text", k = 3, w = 4).collect()
    assert(wnSql.toSet == wnApi.toSet && wnSql.nonEmpty)
    val wfSql = spark.sql(
      "SELECT * FROM winnow_fingerprints('r13_wn', 'doc_id', 'text', 3, 4)")
      .collect()
    val wfApi = graft.core.Dedup.winnowFingerprints(spark.table("r13_wn"),
      "doc_id", "text", k = 3, w = 4).collect()
    assert(wfSql.toSet == wfApi.toSet && wfSql.nonEmpty)

    Seq((1L, "the cat sat", "the cat sat on the mat"),
        (2L, "completely different words", "another reference here"))
      .toDF("id", "cand", "ref").createOrReplaceTempView("r13_rg")
    val rouLSql = spark.sql(
      "SELECT * FROM rouge_l('r13_rg', 'id', 'cand', 'ref')").collect()
    val rouLApi = graft.core.Eval.rougeL(spark.table("r13_rg"), "id",
      col("cand"), col("ref")).collect()
    assert(rouLSql.toSet == rouLApi.toSet && rouLSql.nonEmpty)
    val lcsScalar = spark.sql(
      "SELECT lcs_length(split('a b c', ' '), split('b c d', ' '))")
      .collect()(0).getLong(0)
    assert(lcsScalar == 2L)
    val rgSql = spark.sql(
      "SELECT * FROM rouge_n('r13_rg', 'id', 'cand', 'ref', 2)").collect()
    val rgApi = graft.core.Eval.rougeN(spark.table("r13_rg"), "id",
      col("cand"), col("ref"), n = 2).collect()
    assert(rgSql.toSet == rgApi.toSet && rgSql.nonEmpty)

    val bcSql = spark.sql(
      "SELECT * FROM bleu_components('r13_rg', 'id', 'cand', 'ref', 4)")
      .collect()
    val bcApi = graft.core.Eval.bleuComponents(spark.table("r13_rg"),
      "id", col("cand"), col("ref"), maxN = 4).collect()
    assert(bcSql.toSet == bcApi.toSet && bcSql.length == 4)
  }

  test("round-15 stragglers: hampel/decontam/scrub (incl. indexed " +
      "faces) from pure SQL == API (VERDICT r14 #10)") {
    import org.apache.spark.sql.functions.col
    Seq((1L, "d1", 100L), (1L, "d2", 105L), (1L, "d3", 990L),
        (1L, "d4", 102L), (1L, "d5", 99L), (1L, "d6", 101L),
        (1L, "d7", 103L), (2L, "d1", 50L), (2L, "d2", 51L),
        (2L, "d3", 49L), (2L, "d4", 52L), (2L, "d5", 48L),
        (2L, "d6", 50L), (2L, "d7", 51L))
      .toDF("k", "day", "v").createOrReplaceTempView("r15_hd")
    val hdSql = spark.sql(
      "SELECT * FROM hampel_despike('r15_hd', 'k', 'day', 'v', 5, 3)")
      .collect()
    val hdApi = graft.core.TimeSeries.hampelDespike(spark.table("r15_hd"),
      "k", col("day"), col("v"), window = 5, nMad = 3).collect()
    assert(hdSql.toSet == hdApi.toSet && hdSql.nonEmpty)

    Seq((1L, "alpha beta gamma delta epsilon"),
        (2L, "clean text with no overlap at all"))
      .toDF("doc_id", "text").createOrReplaceTempView("r15_train")
    Seq((9L, "alpha beta gamma")).toDF("doc_id", "text")
      .createOrReplaceTempView("r15_eval")
    val dfSql = spark.sql(
      "SELECT * FROM decontam_flag('r15_train', 'r15_eval', " +
        "'doc_id', 'text', 3, 1)").collect()
    val dfApi = graft.core.Decontaminate.flagContaminated(
      spark.table("r15_train"), spark.table("r15_eval"),
      "doc_id", "text", n = 3, minHits = 1).collect()
    assert(dfSql.toSet == dfApi.toSet && dfSql.length == 2)

    val ssSql = spark.sql(
      "SELECT * FROM scrub_spans('r15_train', 'r15_eval', " +
        "'doc_id', 'text', 3)").collect()
    val ssApi = graft.core.Decontaminate.scrubSpans(
      spark.table("r15_train"), spark.table("r15_eval"),
      "doc_id", "text", n = 3).collect()
    assert(ssSql.toSet == ssApi.toSet && ssSql.length == 2)

    val idx = java.nio.file.Files
      .createTempDirectory("r15_idx").toString + "/idx"
    graft.core.Decontaminate.writeEvalShingleIndex(
      spark.table("r15_eval"), "doc_id", "text", idx, n = 3)
    val fiSql = spark.sql(
      s"SELECT * FROM decontam_flag_indexed('r15_train', '$idx', " +
        "'doc_id', 'text', 3, 1)").collect()
    assert(fiSql.toSet == dfApi.toSet)
    val siSql = spark.sql(
      s"SELECT * FROM scrub_spans_indexed('r15_train', '$idx', " +
        "'doc_id', 'text', 3)").collect()
    assert(siSql.toSet == ssApi.toSet)
  }

  test("round-15 operators: brown_forsythe/chrf/distinct_n/moore_lewis " +
      "table fns and the chrf_matches scalar from pure SQL == API") {
    import org.apache.spark.sql.functions.col
    Seq(("a", 10L), ("a", 12L), ("a", 30L), ("b", 20L), ("b", 21L),
        ("b", 22L), ("c", 5L), ("c", 50L), ("c", 51L))
      .toDF("g", "v").createOrReplaceTempView("r15_bf")
    val bfSql = spark.sql(
      "SELECT * FROM brown_forsythe('r15_bf', 'g', 'v')").collect()
    val bfApi = graft.core.Eval.brownForsythe(spark.table("r15_bf"),
      col("g"), col("v")).collect()
    assert(bfSql.toSet == bfApi.toSet && bfSql.nonEmpty)

    Seq((1L, "the cat sat", "the cat sat on the mat"),
        (2L, "completely different", "another reference"))
      .toDF("id", "cand", "ref").createOrReplaceTempView("r15_ch")
    val chSql = spark.sql(
      "SELECT * FROM chrf('r15_ch', 'id', 'cand', 'ref', 6, 2)").collect()
    val chApi = graft.core.Eval.chrF(spark.table("r15_ch"), "id",
      col("cand"), col("ref")).collect()
    assert(chSql.toSet == chApi.toSet && chSql.nonEmpty)
    val cm = spark.sql(
      "SELECT chrf_matches('abab', 'abba', 2) AS m")
      .as[Seq[Long]].collect().head
    assert(cm == Seq(4L, 2L)) // clipped: min over {ab,ba} counts

    Seq(("s1", "x y x y"), ("s1", "x y z w"), ("s2", "a b c"))
      .toDF("source", "text").createOrReplaceTempView("r15_dn")
    val dnSql = spark.sql(
      "SELECT * FROM distinct_n('r15_dn', 'source', 'text', 2)").collect()
    val dnApi = graft.core.TextAnalysis.distinctN(spark.table("r15_dn"),
      col("source"), col("text"), n = 2).collect()
    assert(dnSql.toSet == dnApi.toSet && dnSql.nonEmpty)

    Seq((1L, "cats and dogs play"), (2L, "stocks and bonds trade"),
        (3L, "cats play a lot"))
      .toDF("doc_id", "text").createOrReplaceTempView("r15_ml")
    spark.table("r15_ml").filter(col("doc_id") === 1L)
      .createOrReplaceTempView("r15_ml_in")
    spark.table("r15_ml").filter(col("doc_id") === 2L)
      .createOrReplaceTempView("r15_ml_gen")
    val mlSql = spark.sql(
      "SELECT * FROM moore_lewis('r15_ml', 'r15_ml_in', 'r15_ml_gen', " +
        "'doc_id', 'text')").collect()
    graft.core.Materialize.scope {
      val inLm = graft.core.LanguageModel.trainBigram(
        spark.table("r15_ml_in"))
      val genLm = graft.core.LanguageModel.trainBigram(
        spark.table("r15_ml_gen"))
      val mlApi = graft.core.LanguageModel.mooreLewis(
        spark.table("r15_ml"), inLm, genLm).collect()
      assert(mlSql.toSet == mlApi.toSet && mlSql.length == 3)
    }

    Seq((1L, "card 4111111111111111 here"), (2L, "clean"))
      .toDF("doc_id", "text").createOrReplaceTempView("r15_cc")
    val ccSql = spark.sql(
      "SELECT * FROM scrub_cards('r15_cc', 'text')").collect()
    val ccApi = graft.core.TextAnalysis.scrubCards(
      spark.table("r15_cc"), "text").collect()
    assert(ccSql.toSet == ccApi.toSet && ccSql.length == 2)

    Seq((1L, "end end end end"), (2L, "ordinary text here"))
      .toDF("doc_id", "text").createOrReplaceTempView("r15_lp")
    val lpSql = spark.sql(
      "SELECT * FROM loop_detect('r15_lp', 'doc_id', 'text', 8, 3)")
      .collect()
    val lpApi = graft.core.TextAnalysis.loopDetect(
      spark.table("r15_lp"), "doc_id", "text").collect()
    assert(lpSql.toSet == lpApi.toSet && lpSql.length == 2)

    Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
        (10L, Array(1.0f, 0.1f)))
      .toDF("vec_id", "embedding").createOrReplaceTempView("r15_sd")
    spark.table("r15_sd").filter($"vec_id" < 10)
      .createOrReplaceTempView("r15_sd_tr")
    spark.table("r15_sd").filter($"vec_id" >= 10)
      .createOrReplaceTempView("r15_sd_ev")
    val sdSql = spark.sql(
      "SELECT * FROM semantic_decontam('r15_sd_tr', 'r15_sd_ev', " +
        "'vec_id', '0.9')").collect()
    val sdApi = graft.core.Decontaminate.flagContaminatedEmbedding(
      spark.table("r15_sd_tr"), spark.table("r15_sd_ev"), 0.9).collect()
    assert(sdSql.toSet == sdApi.toSet && sdSql.length == 2)
    val sdIdx = java.nio.file.Files
      .createTempDirectory("r15_sdidx").toString + "/idx"
    graft.core.Decontaminate.writeEvalEmbeddingIndex(
      spark.table("r15_sd_ev"), "vec_id", "embedding", sdIdx)
    val siSql2 = spark.sql(
      s"SELECT * FROM semantic_decontam_indexed('r15_sd_tr', '$sdIdx', " +
        "'vec_id', '0.9')").collect()
    assert(siSql2.toSet == sdApi.toSet)

    Seq((0L, 1L), (0L, 2L), (1L, 3L), (1L, 4L), (2L, 5L), (2L, 6L))
      .toDF("g", "v").createOrReplaceTempView("r15_jt")
    val jtSql = spark.sql(
      "SELECT * FROM jonckheere('r15_jt', 'g', 'v')").collect()
    val jtApi = graft.core.Eval.jonckheereTerpstra(
      spark.table("r15_jt"), $"g", $"v").collect()
    assert(jtSql.toSet == jtApi.toSet && jtSql.length == 1)

    Seq((1L, 0L, 1L), (1L, 1L, 2L), (2L, 0L, 3L), (2L, 1L, 5L))
      .toDF("b", "t", "v").createOrReplaceTempView("r15_pg")
    val pgSql = spark.sql(
      "SELECT * FROM page_trend('r15_pg', 'b', 't', 'v')").collect()
    val pgApi = graft.core.Eval.pageTrend(spark.table("r15_pg"),
      $"b", $"t", $"v").collect()
    assert(pgSql.toSet == pgApi.toSet && pgSql.length == 1)
  }

  test("lof table function and char_grams scalar from pure SQL") {
    import org.apache.spark.sql.functions.col
    Seq((1L, Array(0.0f)), (2L, Array(0.125f)), (3L, Array(0.25f)),
        (4L, Array(1.0f)))
      .toDF("vec_id", "embedding").createOrReplaceTempView("r12_lof")
    val lofSql = spark.sql("SELECT * FROM lof('r12_lof', 2)").collect()
    val lofApi = graft.core.Similarity.lof(spark.table("r12_lof"), 2)
      .collect()
    assert(lofSql.toSet == lofApi.toSet && lofSql.nonEmpty)
    val cg = spark.sql("SELECT char_grams('abcde', 3) AS g")
      .as[Seq[String]].collect().head
    assert(cg == Seq("abc", "bcd", "cde"))
  }
}
