package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.{Failure, Success, Try}

/** One run of production — the reference's single composed entry point,
  * an HTTP-triggered cron that executes
  * `dbt deps → dbt debug --target dev → dbt debug --target prod →
  *  dbt run --target prod → dbt test --data --target dev`
  * in sequence (dbt/nycitibike_transform/setup_script.sh:4-8, invoked by
  * invoke.go:11-30 behind terraform a2_config_second_apply/main.tf:196-216).
  *
  * Spark-native phase mapping:
  *  - deps   → the model registry's DAG resolution (topo order compiles;
  *             cycles / unknown refs fail here, like dbt deps+compile);
  *  - debug  → per-env warehouse probe: write + read back a one-row
  *             parquet under the env's routing prefix (dbt debug's
  *             connection/permissions test);
  *  - run    → [[Pipeline.Registry.run]] under the PROD (Core) env — the
  *             real materialization, with the registry's retry envelope;
  *  - test   → [[DataTests.runAll]] over the DEV env's resolution of the
  *             models ([[Pipeline.Registry.resolve]]: tests reference
  *             existing relations, they never build them; a model is
  *             resolved only if a check reads it, and a recomputed one
  *             is evaluated once for all its readers) — one Spark action
  *             for the whole suite (AQE runs it as one job per query
  *             stage).
  *
  * Phases run strictly in order and the composition stops at the first
  * failed phase (a failed debug or run must not let tests "pass" against
  * stale relations — dbt's behavior). Every phase is reported with
  * timing and detail; test failures are reported per check.
  */
object ProductionRun {

  final case class PhaseResult(
      phase: String, ok: Boolean, detail: String, millis: Long)

  final case class Report(
      phases: Seq[PhaseResult],
      tests: Seq[DataTests.CheckResult]) {
    def ok: Boolean = phases.forall(_.ok) && failedChecks.isEmpty
    def failedChecks: Seq[DataTests.CheckResult] = DataTests.failed(tests)
  }

  private def timed(phase: String)(body: => String): PhaseResult = {
    val t0 = System.nanoTime()
    Try(body) match {
      case Success(detail) =>
        PhaseResult(phase, ok = true, detail, (System.nanoTime() - t0) / 1000000)
      case Failure(e) =>
        PhaseResult(phase, ok = false,
          s"${e.getClass.getSimpleName}: ${e.getMessage}",
          (System.nanoTime() - t0) / 1000000)
    }
  }

  /** dbt debug's connection test, per env: can we write and read back
    * under this env's warehouse routing prefix? */
  private def debugProbe(spark: SparkSession, warehouseRoot: String,
                         env: Pipeline.Env): String = {
    require(warehouseRoot.nonEmpty, "warehouseRoot must be set")
    // per-run unique probe path: the trigger is an HTTP-fired cron, so
    // two overlapping runs on a fixed path would race (B's overwrite
    // truncates while A reads back -> spurious debug failure aborts a
    // healthy run)
    val path = s"$warehouseRoot/${env.prefix}/_debug/" +
      s"probe-${java.util.UUID.randomUUID().toString.take(8)}"
    spark.range(1).write.mode("overwrite").parquet(path)
    val n = spark.read.parquet(path).count()
    require(n == 1, s"probe read back $n rows")
    val hp = new org.apache.hadoop.fs.Path(path)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    s"write+read ok at $path"
  }

  /** Execute one production run.
    *
    * @param checksFor builds the data-test suite from the DEV-resolved
    *                   model DataFrames (name → DataFrame), mirroring
    *                   dbt tests compiling against the dev target.
    * @param targets    optional model subset (dbt `--select`); empty =
    *                   the whole registry.
    */
  def run(spark: SparkSession, registry: Pipeline.Registry,
          warehouseRoot: String,
          checksFor: Map[String, DataFrame] => Seq[DataTests.Check],
          targets: Seq[String] = Nil,
          threads: Int = 4, retries: Int = 1): Report = {
    val phases = scala.collection.mutable.ArrayBuffer.empty[PhaseResult]
    var tests: Seq[DataTests.CheckResult] = Nil

    def phase(name: String)(body: => String): Boolean = {
      val r = timed(name)(body)
      phases += r
      r.ok
    }

    val sequenceOk =
      phase("deps") {
        val order = registry.topoOrder(
          if (targets.isEmpty) registry.names else targets)
        s"${order.size} models resolve: ${order.mkString(" -> ")}"
      } &&
      phase("debug dev")(debugProbe(spark, warehouseRoot, Pipeline.Dev)) &&
      phase("debug prod")(debugProbe(spark, warehouseRoot, Pipeline.Core)) &&
      phase("run prod") {
        val cfg = Pipeline.RunConfig(env = Pipeline.Core,
          warehouseRoot = warehouseRoot, threads = threads, retries = retries)
        val res = registry.run(cfg, targets)
        s"materialized ${res.order.size} models under ${Pipeline.Core.prefix}/"
      } &&
      phase("test dev") {
        val devCfg = Pipeline.RunConfig(env = Pipeline.Dev,
          warehouseRoot = warehouseRoot)
        tests = registry.resolve(devCfg, targets) { frames =>
          DataTests.runAll(checksFor(frames))
        }
        val failed = DataTests.failed(tests)
        require(failed.isEmpty,
          s"${failed.size}/${tests.size} data tests failed: " +
            failed.map(t => s"${t.model}.${t.name}=${t.nViolations}").mkString(", "))
        s"${tests.size} checks, 0 violations"
      }

    val _ = sequenceOk // report carries the verdict; && short-circuits the sequence
    Report(phases.toSeq, tests)
  }
}
