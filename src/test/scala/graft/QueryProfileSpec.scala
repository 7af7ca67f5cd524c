package graft

import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.functions._

/** The per-query profiler: layer times fit inside the wall time, the
  * listener counts are consistent, build-time jobs are attributed to
  * the build layer, and the persisted-RDD count is the real leak.
  */
class QueryProfileSpec extends SparkSpec {

  /** Profiles `q` and returns the record, the wall time around the
    * call and the RDDs it left persisted. Releases those RDDs and the
    * cache so the shared session stays clean for other suites.
    */
  private def profile(q: String): (QueryProfile.Record, Long, Int) =
    profileWith(QueryProfile.record(spark, q, Sf0001))

  private def profileWith(run: => QueryProfile.Record): (QueryProfile.Record, Long, Int) = {
    val sc = spark.sparkContext
    // record clears the cache first; take the same baseline here
    spark.sharedState.cacheManager.clearCache()
    val before = sc.getPersistentRDDs.keySet
    val listeners = GraftShim.listenerCount(spark)
    val t0 = System.nanoTime()
    val r = run
    val wallMs = (System.nanoTime() - t0) / 1000000L
    val left = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    left.values.foreach(_.unpersist(blocking = true))
    spark.sharedState.cacheManager.clearCache()
    assert(GraftShim.listenerCount(spark) == listeners,
      "record must remove its listener")
    (r, wallMs, left.size)
  }

  test("q01: layers fit the wall time; jobs <= stages <= tasks") {
    val (r, wallMs, _) = profile("q01_pricing_summary")
    assert(r.jobs >= 1, r.report)
    assert(r.stages >= r.jobs, r.report)
    assert(r.tasks >= r.stages, r.report)
    assert(r.buildMs + r.planMs + r.execMs <= wallMs,
      s"wall $wallMs ms\n${r.report}")
    assert(r.plan.contains("Physical Plan"), r.plan)
  }

  test("q302: eager build jobs land in the build layer; " +
      "persisted_rdds_left is the RDD delta") {
    val (r, _, left) = profile("q302_exact_substr_dedup")
    assert(r.buildJobs > 0, r.report)
    assert(r.timeline.filter(_.phase == "build").forall(_.callSite.nonEmpty),
      r.report)
    assert(r.persistedRddsLeft == left, r.report)
  }

  test("codegen_compiles: reported, and a repeated query compiles no more") {
    val (first, _, _) = profile("q01_pricing_summary")
    val (second, _, _) = profile("q01_pricing_summary")
    assert(first.report.contains(s"codegen_compiles=${first.codegenCompiles} "),
      first.report)
    assert(second.codegenCompiles >= 0 &&
      second.codegenCompiles <= first.codegenCompiles,
      s"${first.report}\n${second.report}")
  }

  test("analyzed_nodes: q73's persisted stages are leaves, not lineage") {
    val (r, _, _) = profile("q73_curation_full")
    assert(r.analyzedNodes > 0 && r.analyzedNodes <= 64, r.report)
    assert(r.report.contains(s"analyzed_nodes=${r.analyzedNodes} "), r.report)
  }

  private def built(build: String => DataFrame): QueryProfile.Record =
    profileWith(QueryProfile.record(spark, "built", build, Sf0001))._1

  test("the builder form counts what the query-name form counts") {
    profile("q01_pricing_summary") // warm
    val (byName, _, _) = profile("q01_pricing_summary")
    val byBuilder = built(SparkEntry.queries("q01_pricing_summary")(spark, _))
    assert(byBuilder.query == "built")
    assert((byBuilder.jobs, byBuilder.stages, byBuilder.tasks) ==
      (byName.jobs, byName.stages, byName.tasks),
      s"${byName.report}\n${byBuilder.report}")
  }

  test("heavy stage: task max >= median > 0 on a stage of 16 tasks") {
    val r = built(_ => spark.range(0L, 16L * 2000000L, 1L, 16)
      .select(sum(xxhash64(col("id"), col("id") * 7))))
    assert(r.heavyStageMedianMs > 0, r.report)
    assert(r.heavyStageMaxMs >= r.heavyStageMedianMs, r.report)
    assert(r.report.contains(s"heavy_stage_max_ms=${r.heavyStageMaxMs} "), r.report)
  }

  test("heavy stage: 0 when every stage has fewer than 8 tasks") {
    val r = built(_ => spark.range(0L, 100000L, 1L, 2).select(sum(col("id"))))
    assert(r.tasks > 0, r.report)
    assert((r.heavyStageMaxMs, r.heavyStageMedianMs) == (0L, 0L), r.report)
  }
}
