package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Size-targeted parquet export — the write-side scale discipline a
  * 100 TB pipeline needs and naive `.write.parquet` does not give:
  *
  *  - too MANY output files (one per task of an upstream wide stage,
  *    e.g. thousands of near-empty files after an aggressively
  *    partitioned shuffle) poison every downstream scan with per-file
  *    open/footer costs and overload the namenode/listing;
  *  - too FEW (a `.coalesce(1)`-style funnel) serialize the write and
  *    produce unsplittable row groups.
  *
  * `sharded` targets a row count per output file: range-repartition on
  * the sort columns into `ceil(rows / rowsPerShard)` partitions, then
  * cap file size with `maxRecordsPerFile` (so skewed ranges still split
  * rather than fattening one file). Range partitioning — not
  * round-robin — so each shard covers a contiguous key range and the
  * parquet min/max column stats actually prune downstream scans that
  * filter on the sort key (a round-robin shard has the full key domain
  * in every file: stats prune nothing).
  *
  * The row count comes from a `count()` pre-pass: one extra job, but a
  * cheap columnar one, and the alternative — guessing a partition
  * count — is exactly the naive-write failure mode.
  * Declared by SURVEY "Beyond `queries` (round 3)", io.Export.sharded.
  */
object Export {

  final case class ShardReport(path: String, rows: Long, shards: Int)

  def sharded(df: DataFrame, path: String, sortCols: Seq[String],
              rowsPerShard: Long): ShardReport = {
    require(sortCols.nonEmpty, "sharded export needs at least one sort column")
    require(rowsPerShard > 0, s"rowsPerShard must be positive, got $rowsPerShard")
    val rows = df.count()
    val shards = math.max(1, math.ceil(rows.toDouble / rowsPerShard).toInt)
    df.repartitionByRange(shards, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write
      .mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", rowsPerShard)
      .parquet(path)
    ShardReport(path, rows, shards)
  }

  /** Deterministic training-order shuffle + shard assignment: every row
    * gets (shard, pos) — shard = md5(id) mod `nShards`, pos = the row's
    * 0-based position within its shard when the shard is ordered by
    * (md5(id), id). That is the global random permutation a pretraining
    * data loader needs, made REPRODUCIBLE: hash order is independent of
    * input partitioning/engine, and the id tiebreak pins hash
    * collisions. (`rand()`-based shuffles are neither reproducible nor
    * auditable; this is the q42 hash-sampling contract applied to
    * ordering.)
    *
    * Scale shape: ONE shuffle keyed by shard; position is a
    * within-partition sort + row_number per shard — no global ordering
    * stage anywhere (a full ORDER BY md5 would funnel the corpus
    * through a single range-sort; with nShards sized to the cluster,
    * each shard sorts locally, which is exactly how training shards are
    * written).
    */
  def assignShards(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val h = graft.functions.GraftFunctions.md5Long(
      col(idCol).cast(org.apache.spark.sql.types.StringType))
    df.select(col(idCol), h.as("h"))
      .withColumn("shard", pmod(col("h"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("shard")).orderBy(col("h"), col(idCol)))
        .cast(org.apache.spark.sql.types.LongType) - 1L)
      .select(col(idCol), col("shard"), col("pos"))
  }

  /** Deterministic train/validation/test split assignment — the
    * HOLDOUT cut every training pipeline makes before export. Each
    * row's split is a pure function of its id: md5("split|"+id) modulo
    * the total weight falls into a named cumulative range (e.g.
    * weights train=98, val=1, test=1 → buckets [0,98), [98,99),
    * [99,100)). Properties a random() split cannot give:
    * reproducible on any engine/partitioning, STABLE UNDER APPEND
    * (an existing doc never migrates between splits when the corpus
    * grows — no leakage of yesterday's test set into today's train
    * set), and map-only (no shuffle, no state). Split names keep
    * their given order for the cumulative ranges. */
  def assignSplits(df: DataFrame, idCol: String,
                   splits: Seq[(String, Int)]): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0),
      s"split weights must be positive: $splits")
    require(splits.map(_._1).distinct.size == splits.size,
      s"duplicate split names: $splits")
    val total = splits.map(_._2.toLong).sum
    val h = graft.functions.GraftFunctions.md5Long(
      concat(lit("split|"), col(idCol).cast(org.apache.spark.sql.types.StringType)))
    val bucket = pmod(h, lit(total))
    // chained CASE: the FIRST matching cumulative upper bound wins
    // (CASE short-circuits), so each bucket lands in exactly one range;
    // bucket < total always holds, so no ELSE branch is reachable
    val cum = splits.scanLeft(0L)(_ + _._2).tail
    val expr = splits.tail.zip(cum.tail)
      .foldLeft(when(bucket < cum.head, lit(splits.head._1))) {
        case (acc, ((name, _), upper)) => acc.when(bucket < upper, lit(name))
      }
    df.withColumn("split", expr)
  }
}
