package graft

/** The query catalog, merged from the `graft.queries` domain objects:
  * every query has an oracle, and no name is defined twice (a `++` merge
  * would silently keep only the later definition).
  */
class QueryCatalogSpec extends SparkSpec {

  test("the catalog holds 331 queries") {
    assert(SparkEntry.queries.size == 331)
  }

  test("every query has an oracle and every oracle a query") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("no name is defined in two domain objects") {
    def twice(names: Seq[String]) =
      names.groupBy(identity).collect { case (n, v) if v.size > 1 => n }
    assert(twice(SparkEntry.domains.flatMap(_.queries.keys)).isEmpty)
    assert(twice(SparkEntry.domains.flatMap(_.oracleSql.keys)).isEmpty)
  }

  test("entry returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
