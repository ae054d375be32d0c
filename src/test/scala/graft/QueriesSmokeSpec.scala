package graft

/** Smoke over the full driver surface at sf0.001: every query plans and
  * returns rows (full value-level verification is the DuckDB oracle gate,
  * driven by graft.Verify). */
class QueriesSmokeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs and returns rows at sf0.001") {
      assert(fn(spark, dir).count() > 0, s"$name returned 0 rows")
    }
  }

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("query keys are unique across the four modules") {
    val keys = SparkEntry.registry.map(_.key)
    val dups = keys.diff(keys.distinct)
    assert(dups.isEmpty, s"keys registered twice: $dups")
    assert(SparkEntry.queries.keySet == keys.toSet)
  }

  test("every oracle string is non-empty") {
    val empty = SparkEntry.oracleSql.collect {
      case (k, sql) if sql.trim.isEmpty => k
    }
    assert(empty.isEmpty, s"empty oracle SQL: $empty")
  }

  test("SPARK_GRAFT_ONLY selection rejects an unknown key, naming it") {
    assert(SparkEntry.selectKeys(Some(" q09_distinct,q01_agg_pricing ")) ==
      Seq("q01_agg_pricing", "q09_distinct"))
    val e = intercept[IllegalArgumentException] {
      SparkEntry.selectKeys(Some("q01_agg_pricing,q01_agg_pricng"))
    }
    assert(e.getMessage.contains("q01_agg_pricng"))
  }
}
