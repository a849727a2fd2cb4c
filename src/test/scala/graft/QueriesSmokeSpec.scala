package graft

/** t1 smoke (SURVEY §5): every declared query builds a plan and runs
  * non-empty on sf0.001, and the query and oracle key sets are equal. */
class QueriesSmokeSpec extends SparkTestBase {

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs and returns rows at sf0.001") {
      assert(fn(spark, sf()).count() > 0)
    }
  }

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key names a declared query") {
    val unknown = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"oracles without queries: $unknown")
  }

  test("every declared query has an oracle") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracles: $missing")
  }
}
