package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed warehouse tables: pre-shuffle a table ONCE at write time so
  * every later equi-join/aggregation on the bucket key runs with zero
  * exchanges. This is the 100 TB answer to "this join shuffles every
  * run": lineitem and orders bucketed by order key join with no
  * Exchange in the plan (verified in BucketingSpec by inspecting the
  * executed plan).
  *
  * Bucketed tables need the session catalog (`saveAsTable`) because
  * bucket metadata lives in the catalog, not the parquet files.
  */
object Bucketing {

  /** Write `df` as a bucketed, sorted managed table. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    df.write
      .mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Drop a managed table AND its warehouse location. `overwrite` alone
    * is not enough across JVMs: a fresh session's catalog has no entry
    * for a table a PREVIOUS JVM wrote, but the managed LOCATION is
    * still on disk and `saveAsTable` refuses to claim it
    * (LOCATION_ALREADY_EXISTS) — so any cross-session rebuild (the
    * driver's per-round Verify/Bench JVMs, a re-run cron) must clear
    * both. Deleting only under the session's own warehouse dir keeps
    * this a narrow, name-scoped cleanup. */
  def dropWithLocation(spark: SparkSession, table: String): Unit = {
    // resolve the managed location from the CATALOG while the entry
    // still exists — the <warehouse>/<table> convention holds only for
    // unqualified lowercase names in the default database, so a
    // qualified or mixed-case name would otherwise compute a wrong
    // path and silently skip the cleanup (ADVICE r17). The convention
    // stays as the fallback for the cross-JVM case this method exists
    // for: a fresh session whose catalog has no entry, but whose
    // warehouse dir still holds a previous JVM's table location.
    // arity check OUTSIDE the lookup try: a >2-part name must fail
    // loudly (the fallback would compute a wrong path and silently
    // skip the cleanup — review r18), while a mere lookup failure only
    // degrades to the convention
    val ti = spark.sessionState.sqlParser
      .parseMultipartIdentifier(table) match {
      case Seq(t) => org.apache.spark.sql.catalyst.TableIdentifier(t)
      case Seq(db, t) =>
        org.apache.spark.sql.catalyst.TableIdentifier(t, Some(db))
      case parts => throw new IllegalArgumentException(
        s"dropWithLocation: '$table' (${parts.length} parts) nests " +
          "deeper than db.table")
    }
    val catalogLoc: Option[String] =
      try {
        val cat = spark.sessionState.catalog
        if (cat.tableExists(ti))
          Some(cat.getTableMetadata(ti).location.toString)
        else None
      } catch { case scala.util.control.NonFatal(_) => None }
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = catalogLoc.getOrElse {
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      s"$wh/$table"
    }
    val p = new org.apache.hadoop.fs.Path(loc)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Join two bucketed tables on their bucket key. When both sides have
    * the same bucket count, Catalyst plans a SortMergeJoin with NO
    * Exchange on either side — and that contract is CHECKED: mismatched
    * bucket counts or a non-bucket join key silently degrade to a full
    * shuffle, wasting the pre-shuffle investment with no signal. */
  def bucketedJoin(spark: SparkSession, leftTable: String,
                   rightTable: String, key: String): DataFrame = {
    val j = spark.table(leftTable).join(spark.table(rightTable), key)
    val plan = j.queryExecution.executedPlan.toString
    require(!plan.contains("Exchange hashpartitioning"),
      s"bucketedJoin($leftTable, $rightTable, $key) planned a shuffle — " +
        "both tables must be bucketed on the join key with EQUAL bucket counts")
    j
  }

  /** Z-order the relation for writing: range-partition by the Morton
    * interleave of two dimension keys, so each output FILE covers a
    * small square of (x, y) space instead of a full stripe — min/max
    * file statistics then prune selective predicates on EITHER
    * dimension (the OPTIMIZE ZORDER layout, as plain Spark). Sorting
    * within partitions tightens row-group stats too. The caller writes
    * the result (`.write.parquet(...)`); ZorderSpec measures the
    * payoff: per-file value spread on BOTH dims is a fraction of a
    * single-column layout's on its non-sort dim.
    * Declared by SURVEY §2.9 row q54 (Z-ORDER layout writer). */
  def zorderLayout(df: DataFrame, xCol: String, yCol: String,
                   bits: Int, nFiles: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.withColumn("graft_z_",
        graft.functions.GraftFunctions.zValue(col(xCol), col(yCol), bits))
      .repartitionByRange(nFiles, col("graft_z_"))
      .sortWithinPartitions("graft_z_")
      .drop("graft_z_")
  }
}
