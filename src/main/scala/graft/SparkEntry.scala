package graft

import graft.queries.{CoreQueries, DataQueries, ExtQueries, MediaQueries, QueryDef}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7.
  *
  * `registry` is the full operator inventory: core relational surface
  * (graft.queries.CoreQueries — SURVEY.md §2 line by line) plus the
  * training-data pipeline surface (graft.queries.DataQueries — dedup /
  * similarity / text analysis). Every [[QueryDef]] carries its DuckDB
  * twin — since r9 the approximate operators (q16 KMV distinct, q40
  * grid-rank percentile) are deterministic md5/grid sketches whose
  * estimates replay exactly, so no rows-only entries remain.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's signature shape: filtered dim, same dim left-joined
    * twice onto a fact, aggregation on top (SURVEY.md §2.3-2.4). */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.q03DimDoubleJoin(spark, "/root/testdata/sf0.001")

  /** Every driver query, one entry per key. */
  lazy val registry: Seq[QueryDef] =
    CoreQueries.queries ++ ExtQueries.queries ++ DataQueries.queries ++
      MediaQueries.queries

  private lazy val byKey: Map[String, QueryDef] = {
    val dups = registry.groupBy(_.key).collect {
      case (k, ds) if ds.size > 1 => k
    }
    require(dups.isEmpty,
      s"duplicate query keys: ${dups.toSeq.sorted.mkString(", ")}")
    registry.map(d => d.key -> d).toMap
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    byKey.map { case (k, d) => k -> d.build }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Re-evaluated on every call: the
    * literal-contract oracles inline the model fitted so far. */
  def oracleSql: Map[String, String] =
    byKey.map { case (k, d) => k -> d.oracle }

  /** The sorted keys named by a comma list such as `SPARK_GRAFT_ONLY`
    * (every key when `None`). An unknown key is an error that names it:
    * a typo must not silently select zero queries. */
  def selectKeys(only: Option[String]): Seq[String] = {
    val all = queries.keys.toSeq.sorted
    only.fold(all) { list =>
      val named = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = named.filterNot(queries.contains)
      require(unknown.isEmpty,
        s"unknown query keys: ${unknown.toSeq.sorted.mkString(", ")}")
      all.filter(named)
    }
  }

  /** [[selectKeys]] over the `SPARK_GRAFT_ONLY` environment variable. */
  def selectedKeys: Seq[String] = selectKeys(sys.env.get("SPARK_GRAFT_ONLY"))
}
