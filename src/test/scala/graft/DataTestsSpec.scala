package graft

import graft.pipeline.DataTests
import graft.pipeline.DataTests.Check
import org.apache.spark.sql.functions._

class DataTestsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val zones = Seq(
    (1L, "Bronx", "A"), (2L, "Queens", "B"), (3L, null, "A"), (3L, "EWR", "Z"))
    .toDF("location_id", "borough", "svc")

  test("notNull: surfaces exactly the null rows") {
    val v = DataTests.notNull(zones, "borough").collect()
    assert(v.length == 1 && v.head.getLong(0) == 3L)
  }

  test("unique: duplicate keys reported with counts; composite keys supported") {
    val v = DataTests.unique(zones, Seq("location_id")).collect()
    assert(v.length == 1 && v.head.getLong(0) == 3L && v.head.getLong(1) == 2L)
    assert(DataTests.unique(zones, Seq("location_id", "svc")).count() == 0)
  }

  test("unique: NULL keys excluded before grouping (dbt semantics)") {
    val df = Seq(Option("a"), None, None).toSeq.toDF("k")
    // two NULL rows are NOT a duplicate pair under dbt's unique test
    assert(DataTests.unique(df, Seq("k")).count() == 0)
  }

  test("expect: predicate violations include NULL-predicate rows") {
    val df = Seq(Some(5.0), Some(-1.0), None).toSeq.toDF("fare")
    // expectation fare >= 0: -1 fails, NULL predicate counts as failure
    assert(DataTests.expect(df, col("fare") >= 0).count() == 2)
  }

  test("runAll: reports every check in one action; failed keeps the violated") {
    // distinct counts (0, 1, 2): a result matched to the wrong check fails
    val suite = Seq(
      Check("zones", "not_null_location_id", DataTests.notNull(zones, "location_id")),
      Check("zones", "unique_location_id", DataTests.unique(zones, Seq("location_id"))),
      Check("zones", "svc_accepted", DataTests.expect(zones, col("svc") === "A")))
    val all = DataTests.runAll(suite)
    assert(all.map(r => (r.name, r.nViolations)) == Seq(
      "not_null_location_id" -> 0L, "unique_location_id" -> 1L, "svc_accepted" -> 2L))
    assert(DataTests.failed(all).map(_.name) == Seq("unique_location_id", "svc_accepted"))
  }
}
