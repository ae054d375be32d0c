package graft

import graft.pipeline.{DataTests, Pipeline, ProductionRun}
import graft.pipeline.Pipeline.{Model, Registry, Table, View}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The composed "one run of production" driver (setup_script.sh:4-8):
  * deps -> debug dev -> debug prod -> run --target prod -> test --target
  * dev — phase order, env routing, and failure reporting. */
class ProductionRunSpec extends SparkSpec {
  import spark.implicits._

  private def freshRegistry(): Registry = {
    val r = new Registry(spark)
    r.register(Model("staging", "1_SRC", Nil) { _ =>
        Seq((1L, "Bronx"), (2L, "Queens"), (3L, "EWR")).toDF("zone_id", "borough")
      })
      .register(Model("mart", "3_MART", Seq("staging"), Table) { d =>
        d("staging").withColumn("is_airport", col("borough") === "EWR")
      })
  }

  private def checks(frames: Map[String, DataFrame]): Seq[DataTests.Check] = Seq(
    DataTests.Check("mart", "zone_id_not_null",
      DataTests.notNull(frames("mart"), "zone_id")),
    DataTests.Check("mart", "zone_id_unique",
      DataTests.unique(frames("mart"), Seq("zone_id"))))

  test("production run: phase order, prod env routing, green tests") {
    val root = Files.createTempDirectory("graft-prod").toString
    val report = ProductionRun.run(spark, freshRegistry(), root, checks)

    assert(report.phases.map(_.phase) ==
      Seq("deps", "debug dev", "debug prod", "run prod", "test dev"),
      "the reference's setup_script sequence, in order")
    assert(report.phases.forall(_.ok), report.phases.mkString("; "))
    assert(report.ok)
    assert(report.tests.size == 2 && report.tests.forall(_.passed))

    // run --target prod materialized under CORE/, and ONLY under CORE/
    // (the test phase resolves dev without building anything there)
    assert(new java.io.File(s"$root/CORE/3_MART/mart").exists(),
      "prod Table model must land under the CORE prefix")
    assert(!new java.io.File(s"$root/DEV/3_MART/mart").exists(),
      "dbt test references relations; it must not materialize under DEV")
  }

  test("production run: a failing data test fails the run with per-check detail") {
    val root = Files.createTempDirectory("graft-prod").toString
    val badChecks = (frames: Map[String, DataFrame]) => Seq(
      DataTests.Check("mart", "no_airports",
        DataTests.expect(frames("mart"), !col("is_airport"))))
    val report = ProductionRun.run(spark, freshRegistry(), root, badChecks)
    assert(!report.ok)
    val testPhase = report.phases.last
    assert(testPhase.phase == "test dev" && !testPhase.ok)
    assert(testPhase.detail.contains("mart.no_airports=1"),
      s"failure detail names the check and count: ${testPhase.detail}")
    assert(report.failedChecks.map(_.nViolations) == Seq(1L))
  }

  test("production run: a failing model stops before the test phase") {
    val root = Files.createTempDirectory("graft-prod").toString
    val r = freshRegistry()
    r.register(Model("broken", "3_MART", Seq("staging")) { d =>
      d("staging").select(col("no_such_column"))
    })
    val report = ProductionRun.run(spark, r, root, checks)
    assert(!report.ok)
    assert(report.phases.map(_.phase) ==
      Seq("deps", "debug dev", "debug prod", "run prod"),
      "sequence stops at the failed run phase — tests never run on stale relations")
    assert(!report.phases.last.ok)
    assert(report.tests.isEmpty)
  }

  test("dev test resolution reads an already-materialized dev Table") {
    // dbt test --target dev references EXISTING dev relations: if the
    // Table was materialized under DEV earlier, resolve() must read that
    // copy, not recompute the lineage.
    val root = Files.createTempDirectory("graft-prod").toString
    val r = freshRegistry()
    // materialize under DEV with an extra marker column, then resolve
    r.run(Pipeline.RunConfig(env = Pipeline.Dev, warehouseRoot = root))
    val devMart = spark.read.parquet(s"$root/DEV/3_MART/mart")
      .withColumn("marker", lit(1))
    devMart.write.mode("overwrite").parquet(s"$root/DEV/3_MART/mart_marked")
    // point a fresh registry's Table model at the marked path name
    val r2 = new Registry(spark)
    r2.register(Model("staging", "1_SRC", Nil) { _ =>
        Seq((9L, "X")).toDF("zone_id", "borough")
      })
      .register(Model("mart_marked", "3_MART", Seq("staging"), Table) { d =>
        d("staging")
      })
    val columns = r2.resolve(
      Pipeline.RunConfig(env = Pipeline.Dev, warehouseRoot = root))(
      _("mart_marked").columns)
    assert(columns.contains("marker"),
      "resolve() reads the materialized dev relation, not the lineage")
  }

  test("test dev evaluates a DEV model read by two checks and a downstream model once") {
    val root = Files.createTempDirectory("graft-prod").toString
    // counts the rows the mart's lineage evaluates, on every path that
    // runs it; nullable (boxed), so a not-null check cannot fold it away
    val evaluated = spark.sparkContext.longAccumulator("mart rows evaluated")
    val tally = udf { (id: Long) =>
      evaluated.add(1L); java.lang.Long.valueOf(id)
    }.asNondeterministic()
    val r = new Registry(spark)
    r.register(Model("staging", "1_SRC", Nil) { _ =>
        spark.range(1, 4).select(col("id").as("zone_id"),
          when(col("id") === 3L, "EWR").otherwise("Queens").as("borough"))
      })
      .register(Model("mart", "3_MART", Seq("staging"), Table) { d =>
        d("staging").withColumn("zone_id", tally(col("zone_id")))
      })
      .register(Model("by_borough", "3_MART", Seq("mart"), Table) { d =>
        d("mart").groupBy("borough").agg(max("zone_id").as("max_zone_id"))
      })
    var afterRun = -1L
    val report = ProductionRun.run(spark, r, root, { frames =>
      afterRun = evaluated.value
      Seq(
        DataTests.Check("mart", "zone_id_not_null",
          DataTests.notNull(frames("mart"), "zone_id")),
        DataTests.Check("mart", "zone_id_unique",
          DataTests.unique(frames("mart"), Seq("zone_id"))),
        DataTests.Check("by_borough", "borough_unique",
          DataTests.unique(frames("by_borough"), Seq("borough"))))
    })
    assert(report.ok, report.phases.mkString("; "))
    assert(afterRun == 3L, "run prod evaluates the mart's 3 rows once")
    assert(evaluated.value - afterRun == 3L,
      "test dev evaluates the mart once for both checks and by_borough, " +
        s"not once per reader: ${evaluated.value - afterRun} rows evaluated")
  }

  test("test dev never builds a model that no check reads") {
    // a build there could only fail after run prod already failed on it,
    // so skipping it hides no failure
    val root = Files.createTempDirectory("graft-prod").toString
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val r = freshRegistry()
    r.register(Model("unread", "3_MART", Seq("mart"), Table) { d =>
      builds.incrementAndGet(); d("mart")
    })
    val report = ProductionRun.run(spark, r, root, checks)
    assert(report.ok, report.phases.mkString("; "))
    assert(builds.get == 1, s"built by run prod only, got ${builds.get} builds")
  }

  test("test dev releases every relation it holds, also when a check throws") {
    spark.catalog.clearCache()
    val cache = spark.sharedState.cacheManager
    def run(checksFor: Map[String, DataFrame] => Seq[DataTests.Check]) =
      ProductionRun.run(spark, freshRegistry(),
        Files.createTempDirectory("graft-prod").toString, checksFor)
    assert(run(checks).ok)
    assert(cache.isEmpty, "green run leaves the mart cached")
    val throwsBuilding = run { frames =>
      frames("mart") // resolved and held before the suite fails
      throw new IllegalStateException("suite construction failed")
    }
    assert(!throwsBuilding.ok &&
      throwsBuilding.phases.last.detail.contains("suite construction failed"))
    assert(cache.isEmpty, "a suite that throws leaves the mart cached")
    val throwsEvaluating = run { frames =>
      Seq(DataTests.Check("mart", "raises",
        DataTests.expect(frames("mart"), raise_error(lit("check failed")).isNull)))
    }
    assert(!throwsEvaluating.ok && throwsEvaluating.tests.isEmpty)
    assert(cache.isEmpty, "a check that throws leaves the mart cached")
  }
}
