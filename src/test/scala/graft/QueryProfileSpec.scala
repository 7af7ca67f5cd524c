package graft

import org.apache.spark.sql.GraftShim

/** The per-query profiler: layer times fit inside the wall time, the
  * listener counts are consistent, build-time jobs are attributed to
  * the build layer, and the persisted-RDD count is the real leak.
  */
class QueryProfileSpec extends SparkSpec {

  /** Profiles `q` and returns the record, the wall time around the
    * call and the RDDs it left persisted. Releases those RDDs and the
    * cache so the shared session stays clean for other suites.
    */
  private def profile(q: String): (QueryProfile.Record, Long, Int) = {
    val sc = spark.sparkContext
    // record clears the cache first; take the same baseline here
    spark.sharedState.cacheManager.clearCache()
    val before = sc.getPersistentRDDs.keySet
    val listeners = GraftShim.listenerCount(spark)
    val t0 = System.nanoTime()
    val r = QueryProfile.record(spark, q, Sf0001)
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
}
