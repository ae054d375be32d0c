package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** dbt-style generic data tests, Spark-native (SURVEY.md §2.7 D6).
  *
  * The reference invokes a data-test phase (`dbt test --data`,
  * setup_script.sh:8) with zero tests behind it — this module supplies
  * the generic test types the curation suite runs (dbt's not_null and
  * unique, plus the singular-test predicate [[expect]]) as runnable
  * checks. The reference declares no accepted_values or relationships
  * test (SURVEY.md §5), so neither is carried. Each check returns the
  * VIOLATING rows as a DataFrame (empty = pass), so a failure is
  * inspectable, not just a boolean; [[runAll]] evaluates a suite and
  * reports per-check violation counts.
  *
  * Scale notes: every check is one filter or aggregate over the model
  * — the same shapes the query layer optimizes (map-side combine for
  * unique). No collects; counts happen on the executors.
  */
object DataTests {

  /** A named check over a named model. */
  final case class Check(model: String, name: String, violations: DataFrame)

  final case class CheckResult(model: String, name: String, nViolations: Long) {
    def passed: Boolean = nViolations == 0
  }

  /** Rows where `col` is NULL (dbt `not_null`). */
  def notNull(df: DataFrame, column: String): DataFrame =
    df.filter(col(column).isNull)

  /** Key groups appearing more than once, with their counts
    * (dbt `unique`, multi-column supported). Rows with a NULL in any
    * key column are excluded first — dbt's unique test filters
    * `WHERE column IS NOT NULL` before grouping, so NULL keys are
    * never duplicates (pair with [[notNull]] to forbid them). */
  def unique(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "unique: at least one key column required")
    df.filter(columns.map(c => col(c).isNotNull).reduce(_ && _))
      .groupBy(columns.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
      .filter(col("n_rows") > 1)
  }

  /** Arbitrary predicate check: rows FAILING `expectation` (the dbt
    * singular-test escape hatch). */
  def expect(df: DataFrame, expectation: Column): DataFrame =
    df.filter(!coalesce(expectation, lit(false)))

  /** DATA-CARD DIFF — the release gate over the t22 datasheet
    * (VERDICT r11 next-#7): compare the current card against the
    * previously materialized one per key group and return one
    * violation row per (group, metric) whose relative change exceeds
    * `maxRelDelta`. A group that APPEARED or DISAPPEARED outright is
    * always a violation (its delta is reported as NULL prev/cur) —
    * a quality-gate or pipeline change that silently drops a
    * (lang, source) shard is exactly what this check exists to catch.
    * Violations carry (keys..., metric, prev, cur, rel_delta), so the
    * release report is inspectable like every other check.
    *
    * Scale shape: one full-outer join of two card-sized relations
    * (cards are (lang, source)-bounded — tiny at any corpus size) and
    * a metric explode; nothing touches documents.
    * Declared by SURVEY "Round-12 additions": DATA-CARD RELEASE GATE. */
  def cardDiff(current: DataFrame, previous: DataFrame,
               maxRelDelta: Double,
               keys: Seq[String] = Seq("lang", "source"),
               metrics: Seq[String] = Seq("n_docs", "n_tokens")): DataFrame = {
    require(maxRelDelta >= 0, s"maxRelDelta must be >= 0, got $maxRelDelta")
    require(keys.nonEmpty && metrics.nonEmpty, "keys and metrics required")
    import org.apache.spark.sql.types.LongType
    val cur = current.select(keys.map(col) ++
      metrics.map(m => col(m).cast(LongType).as(s"__cur_$m")): _*)
    val prev = previous.select(keys.map(col) ++
      metrics.map(m => col(m).cast(LongType).as(s"__prev_$m")): _*)
    cur.join(prev, keys, "full_outer")
      .select(keys.map(col) :+ explode(array(metrics.map(m =>
        struct(lit(m).as("metric"), col(s"__prev_$m").as("prev"),
          col(s"__cur_$m").as("cur"))): _*)).as("__m"): _*)
      .select(keys.map(col) :+ col("__m.metric").as("metric") :+
        col("__m.prev").as("prev") :+ col("__m.cur").as("cur"): _*)
      .withColumn("rel_delta",
        when(col("prev").isNull || col("cur").isNull, lit(null))
          .otherwise(abs(col("cur") - col("prev")).cast("double") /
            greatest(col("prev").cast("double"), lit(1.0))))
      .filter(col("rel_delta").isNull || col("rel_delta") > maxRelDelta)
  }

  /** The checks of a suite's results that found violations. */
  def failed(results: Seq[CheckResult]): Seq[CheckResult] =
    results.filterNot(_.passed)

  /** Evaluate a suite the way plain `dbt test` does (the reference runs
    * it without `--fail-fast`): every check runs and every failure is
    * reported, in ONE Spark action — a union of per-check violation
    * counts, which AQE runs as one job per query stage — instead of a
    * count action per check (VERDICT r2 flagged the N-action
    * formulation). */
  def runAll(checks: Seq[Check]): Seq[CheckResult] =
    if (checks.isEmpty) Nil
    else {
      // one row per check, tagged with the check's index: the results
      // are matched by tag, never by the order the union's rows arrive in
      val counted = checks.zipWithIndex.map { case (c, i) =>
        c.violations.agg(count(lit(1)).as("n_violations"))
          .select(lit(i).as("check"), col("n_violations"))
      }
      val byCheck = counted.reduce(_ unionAll _).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      checks.zipWithIndex.map { case (c, i) =>
        CheckResult(c.model, c.name, byCheck(i))
      }
    }
}
