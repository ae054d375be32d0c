package graft

import graft.pipeline.Pipeline._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** dbt `materialized='incremental'` semantics (delete+insert merge,
  * `{{ this }}` / `is_incremental()` delta builds) on the Spark-native
  * Registry. Reference: dbt-core incremental materialization docs;
  * the reference project declares no incremental models but its runtime
  * (dbt 1.x) ships the strategy, so it is part of the engine surface.
  */
class IncrementalModelSpec extends SparkSpec {
  import spark.implicits._

  private def registry(src: () => DataFrame, key: Seq[String] = Seq("id")) = {
    val r = new Registry(spark)
    r.register(Model("inc", "3_MART", Nil, Incremental(key)) { deps =>
      val s = src()
      deps.get(This) match {
        // is_incremental(): only rows newer than what the relation holds
        case Some(existing) =>
          val hi = existing.agg(max("ts")).first().getLong(0)
          s.filter(col("ts") > hi)
        case None => s
      }
    })
    r
  }

  test("incremental: first run full build, second run merges by unique key") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-inc").toString
    val cfg = RunConfig(env = Dev, warehouseRoot = tmp)
    var data = Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("id", "ts", "v")
    val r = registry(() => data)

    r.run(cfg, Seq("inc"))
    val path = s"$tmp/DEV/3_MART/inc"
    assert(spark.read.parquet(path).count() == 2, "first run = full build")

    // id=2 re-arrives updated (newer ts), id=3 is new, id=1 untouched
    data = Seq((1L, 10L, "a"), (2L, 25L, "b2"), (3L, 30L, "c")).toDF("id", "ts", "v")
    r.run(cfg, Seq("inc"))
    val rows = spark.read.parquet(path).orderBy("id")
      .as[(Long, Long, String)].collect().toSeq
    assert(rows == Seq((1L, 10L, "a"), (2L, 25L, "b2"), (3L, 30L, "c")),
      "matching key replaced, new appended, untouched kept")
  }

  test("schema evolution: added column NULL-backfills retained rows; dropped column disappears") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-inc-ev").toString + "/rel"
    mergeIntoParquet(spark,
      tmp, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"))
    // increment ADDS column w and updates id=2
    mergeIntoParquet(spark,
      tmp, Seq((2L, "b2", 9.9), (3L, "c", 1.1)).toDF("id", "v", "w"), Seq("id"))
    val rows = spark.read.parquet(tmp).orderBy("id")
      .as[(Long, String, Option[Double])].collect().toSeq
    assert(rows == Seq((1L, "a", None), (2L, "b2", Some(9.9)), (3L, "c", Some(1.1))),
      "retained row NULL-backfilled, merged rows carry the new column")
    // increment DROPS column w: the increment's schema is authoritative
    mergeIntoParquet(spark, tmp, Seq((4L, "d")).toDF("id", "v"), Seq("id"))
    assert(spark.read.parquet(tmp).columns.toSeq == Seq("id", "v"),
      "dropped column disappears from the relation")
    assert(spark.read.parquet(tmp).count() == 4)
  }

  test("schema evolution on a PARTITIONED relation falls back to a full rewrite (no mixed footers)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-inc-evp").toString + "/rel"
    mergeIntoParquet(spark,
      tmp, Seq((1L, "p1", "a"), (2L, "p2", "b")).toDF("id", "part", "v"),
      uniqueKey = Seq("id", "part"), partitionBy = Seq("part"))
    // schema-changing increment touches ONLY partition p2; the fast path
    // would leave p1's footers without column w
    mergeIntoParquet(spark,
      tmp, Seq((2L, "p2", "b2", 7.0)).toDF("id", "part", "v", "w"),
      uniqueKey = Seq("id", "part"), partitionBy = Seq("part"))
    // a PLAIN read (no pinned schema, no mergeSchema) must already see
    // the new column on every row — i.e. every footer was rewritten
    val plain = spark.read.parquet(tmp)
    assert(plain.columns.contains("w"), "new column visible to plain readers")
    val rows = plain.orderBy("id")
      .select("id", "part", "v", "w")
      .as[(Long, String, String, Option[Double])].collect().toSeq
    assert(rows == Seq((1L, "p1", "a", None), (2L, "p2", "b2", Some(7.0))))
    // and the untouched-partition file itself carries the new schema
    val p1Only = spark.read.parquet(s"$tmp/part=p1")
    assert(p1Only.columns.contains("w"), "p1 footers rewritten under the new schema")
    // a SAME-schema partitioned increment still takes the scoped path
    // (sanity: semantics unchanged)
    mergeIntoParquet(spark,
      tmp, Seq((3L, "p1", "e", 2.0)).toDF("id", "part", "v", "w"),
      uniqueKey = Seq("id", "part"), partitionBy = Seq("part"))
    assert(spark.read.parquet(tmp).count() == 3)
  }

  test("TYPE-changing partitioned increment (same names) also falls back to a full rewrite") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-inc-evt").toString + "/rel"
    mergeIntoParquet(spark,
      tmp, Seq((1L, "p1", 7), (2L, "p2", 8)).toDF("id", "part", "v"),
      uniqueKey = Seq("id", "part"), partitionBy = Seq("part"))
    assert(spark.read.parquet(s"$tmp/part=p1").schema("v").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // v widens INT -> BIGINT while every field NAME stays identical, and
    // the increment touches ONLY p2 — the name-set check alone (ADVICE
    // r5) would take the scoped path and leave p1 with INT32 footers
    mergeIntoParquet(spark,
      tmp, Seq((2L, "p2", 80L)).toDF("id", "part", "v"),
      uniqueKey = Seq("id", "part"), partitionBy = Seq("part"))
    val p1 = spark.read.parquet(s"$tmp/part=p1")
    assert(p1.schema("v").dataType == org.apache.spark.sql.types.LongType,
      "untouched partition's footers rewritten under the widened type")
    val rows = spark.read.parquet(tmp).select("id", "part", "v").orderBy("id")
      .as[(Long, String, Long)].collect().toSeq
    assert(rows == Seq((1L, "p1", 7L), (2L, "p2", 80L)))
  }

  test("incremental: no unique key appends wholesale; NULL-keyed rows survive") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-inc").toString
    val cfg = RunConfig(env = Dev, warehouseRoot = tmp)

    // append-only (no key)
    var data = Seq((1L, 1L, "a")).toDF("id", "ts", "v")
    val r = registry(() => data, key = Nil)
    r.run(cfg, Seq("inc"))
    data = Seq((1L, 2L, "a2")).toDF("id", "ts", "v")
    r.run(cfg, Seq("inc"))
    assert(spark.read.parquet(s"$tmp/DEV/3_MART/inc").count() == 2,
      "no key -> both versions kept (append)")

    // NULL keys: delete+insert is `key IN (...)` — NULL never matches
    val tmp2 = java.nio.file.Files.createTempDirectory("graft-inc").toString
    val cfg2 = RunConfig(env = Dev, warehouseRoot = tmp2)
    var d2 = Seq((Option(1L), 1L, "a"), (Option.empty[Long], 1L, "n")).toDF("id", "ts", "v")
    val r2 = registry(() => d2)
    r2.run(cfg2, Seq("inc"))
    d2 = Seq((Option(1L), 2L, "a2"), (Option.empty[Long], 2L, "n2")).toDF("id", "ts", "v")
    r2.run(cfg2, Seq("inc"))
    val out = spark.read.parquet(s"$tmp2/DEV/3_MART/inc")
    assert(out.filter(col("id").isNull).count() == 2,
      "existing NULL-key row survives and new NULL-key row appends")
    assert(out.filter(col("id") === 1L).as[(Option[Long], Long, String)]
      .collect().toSeq == Seq((Some(1L), 2L, "a2")), "keyed row replaced")
  }

  test("incremental: partitioned merge rewrites only the affected partitions") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-inc").toString
    val cfg = RunConfig(env = Dev, warehouseRoot = tmp)
    var data = Seq((1L, Option("a"), 10L), (2L, Option("b"), 10L),
      (3L, Option.empty[String], 10L)).toDF("id", "part", "ts")
    val r = new Registry(spark)
    // partitionBy ⊆ uniqueKey -> keys cannot migrate -> partition-scoped
    r.register(Model("inc", "3_MART", Nil, Incremental(Seq("id", "part")),
      partitionBy = Seq("part")) { _ => data })
    r.run(cfg, Seq("inc"))
    val path = s"$tmp/DEV/3_MART/inc"
    def filesOf(dir: String): Set[(String, Long)] =
      new java.io.File(dir).listFiles().toSeq
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    val aBefore = filesOf(s"$path/part=a")

    // second run touches only partition b and the NULL partition
    data = Seq((2L, Option("b"), 20L), (4L, Option.empty[String], 20L))
      .toDF("id", "part", "ts")
    r.run(cfg, Seq("inc"))
    assert(filesOf(s"$path/part=a") == aBefore,
      "untouched partition's files must not be rewritten")
    val rows = spark.read.parquet(path)
      .select("id", "part", "ts").orderBy("id")
      .as[(Long, Option[String], Long)].collect().toSeq
    assert(rows == Seq(
      (1L, Some("a"), 10L),  // untouched
      (2L, Some("b"), 20L),  // replaced in its partition
      (3L, None, 10L),       // NULL partition: other keys survive
      (4L, None, 20L)))      // NULL partition: new key appended
  }

  test("incremental: build sees only the delta via This (is_incremental)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-inc").toString
    val cfg = RunConfig(env = Dev, warehouseRoot = tmp)
    var sawThis = List.empty[Boolean]
    var data = Seq((1L, 10L, "a")).toDF("id", "ts", "v")
    val r = new Registry(spark)
    r.register(Model("inc", "3_MART", Nil, Incremental(Seq("id"))) { deps =>
      sawThis ::= deps.contains(This)
      deps.get(This) match {
        case Some(ex) =>
          val hi = ex.agg(max("ts")).first().getLong(0)
          assert(hi == 10L, "This exposes the materialized relation")
          data.filter(col("ts") > hi)
        case None => data
      }
    })
    r.run(cfg, Seq("inc"))
    data = Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("id", "ts", "v")
    r.run(cfg, Seq("inc"))
    assert(sawThis.reverse == List(false, true),
      "This absent on first run, present on second")
    assert(spark.read.parquet(s"$tmp/DEV/3_MART/inc").count() == 2)

    // resolve() (dbt test mode) reads the materialized relation, no rebuild
    assert(r.resolve(cfg, Seq("inc"))(_("inc").count()) == 2)
  }

  test("a merge evaluates its increment once and leaves nothing cached") {
    val evaluated = spark.sparkContext.longAccumulator("increment rows evaluated")
    // the tally is the key itself, so every reader of the increment runs it
    val tally = udf { (id: Long) => evaluated.add(1L); id }.asNondeterministic()
    def increment(ids: Range) = spark.range(ids.start, ids.end)
      .select(tally(col("id")).as("id"), (col("id") % 2).cast("string").as("part"),
        lit("v").as("v"))
    spark.catalog.clearCache()
    Seq(Nil, Seq("part")).foreach { partitionBy =>
      val path = java.nio.file.Files.createTempDirectory("graft-inc-once")
        .toString + "/rel"
      mergeIntoParquet(spark, path, increment(0 until 6), Seq("id", "part"),
        partitionBy)
      evaluated.reset()
      // keys 4, 5 replace existing rows; 6..9 are new
      mergeIntoParquet(spark, path, increment(4 until 10), Seq("id", "part"),
        partitionBy)
      assert(evaluated.value == 6L,
        s"partitionBy=$partitionBy: ${evaluated.value} increment rows evaluated, want 6")
      assert(spark.sharedState.cacheManager.isEmpty,
        s"partitionBy=$partitionBy: the held increment was not released")
      assert(spark.read.parquet(path).count() == 10L)
    }
  }
}
