package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Vector-index maintenance on the cell-partitioned IVF layout — the
  * production serving loop ([[graft.operators.Similarity]] builds and
  * searches; this module keeps the stored index CURRENT without
  * retraining or rebuilding):
  *
  *  - [[build]]/[[upsert]]: vectors are assigned MAP-ONLY against the
  *    frozen coarse codebook (the literal-codebook compiled pass — no
  *    shuffle beyond the partitioned write) and land in their cell's
  *    directory; an upsert touches only the cell dirs its batch maps
  *    to. No retrain: the e18 recall report is the gate that tells you
  *    WHEN the frozen quantizer has drifted enough to refit.
  *  - [[delete]]: tombstones appended to an underscore-prefixed side
  *    table (invisible to the index scan by parquet discovery rules) —
  *    a delete is O(ids), never a rewrite.
  *  - [[serving]]: index minus tombstones (one anti-join against the
  *    small tombstone relation); probe queries still prune non-probed
  *    cells at the SCAN (IvfStorageSpec's partition-pruning pin).
  *  - [[compact]]: folds tombstones in by rewriting ONLY the cells
  *    that contain deleted ids (staged to a sibling tmp path, swapped
  *    in per cell — the same write-tmp-then-swap crash-safety
  *    discipline as [[graft.pipeline.Pipeline.deleteKeys]], here
  *    scoped by the index's own cell layout), then clears the
  *    tombstone table.
  *
  * At 100 TB: upsert cost tracks the batch, delete cost the id list,
  * compact cost the affected cells' bytes — never the index size.
  * Declared by SURVEY §2.9 row e20 (maintained-index serving).
  */
object IvfMaintenance {

  private def tombDir(dir: String) = s"$dir/_graft_tombstones"

  private def assign(vecs: DataFrame, vecCol: String, idCol: String,
                     codebook: Seq[Seq[Double]]): DataFrame =
    graft.operators.Similarity
      .cellAssignments(vecs, vecCol, idCol, codebook)

  /** Initial build: assign the corpus against the (trained, frozen)
    * codebook and write it partitioned by cell. */
  def build(dir: String, corpus: DataFrame, vecCol: String, idCol: String,
            codebook: Seq[Seq[Double]]): Unit =
    assign(corpus, vecCol, idCol, codebook)
      .write.partitionBy("cell").mode("overwrite").parquet(dir)

  /** Upsert a batch: map-only assignment, appended into the batch's
    * cell dirs only. Re-sent ids are handled at read time by
    * [[serving]]'s latest-wins contract ONLY if the caller tombstones
    * the old version first (an id is immutable otherwise — the
    * append-log contract). */
  def upsert(dir: String, batch: DataFrame, vecCol: String, idCol: String,
             codebook: Seq[Seq[Double]]): Unit =
    assign(batch, vecCol, idCol, codebook)
      .write.partitionBy("cell").mode("append").parquet(dir)

  /** Tombstone ids: O(ids) append to the side table; nothing in the
    * index moves. */
  def delete(spark: SparkSession, dir: String, ids: Seq[Long]): Unit = {
    import spark.implicits._
    ids.toDF("id").write.mode("append").parquet(tombDir(dir))
  }

  private def tombstones(spark: SparkSession, dir: String): DataFrame = {
    // Existence through the path's Hadoop FileSystem, NOT java.io.File:
    // on hdfs:// or s3a:// a local-file check is false for an EXISTING
    // tombstone table, and serving() would silently return deleted
    // vectors (ADVICE r11).
    if (graft.pipeline.Pipeline.pathExists(spark, tombDir(dir)))
      spark.read.parquet(tombDir(dir))
    else {
      import spark.implicits._
      Seq.empty[Long].toDF("id")
    }
  }

  /** The live index: stored assignments minus tombstones. */
  def serving(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)
      .join(broadcast(tombstones(spark, dir)), Seq("id"), "left_anti")

  private def compactTmp(dir: String) = s"$dir.__compact_tmp"
  private def compactAside(dir: String) = s"$dir.__compact_aside"

  /** Heal a compact that crashed mid-swap: any cell dir still in the
    * aside root whose live twin is MISSING is restored (the crash hit
    * between move-aside and move-in); one whose live twin exists was
    * already replaced — drop the leftover. Idempotent; called at the
    * top of every [[compact]] and safe to call any time. */
  def recoverCompact(spark: SparkSession, dir: String): Unit = {
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val aside = new org.apache.hadoop.fs.Path(compactAside(dir))
    if (f.exists(aside)) {
      f.listStatus(aside).foreach { st =>
        val live = new org.apache.hadoop.fs.Path(dir, st.getPath.getName)
        if (!f.exists(live))
          require(f.rename(st.getPath, live),
            s"failed to restore ${st.getPath} after crashed compact")
        else require(f.delete(st.getPath, true),
          s"failed to clean up ${st.getPath}")
      }
      f.delete(aside, true)
    }
    f.delete(new org.apache.hadoop.fs.Path(compactTmp(dir)), true)
  }

  /** Fold tombstones into the layout: rewrite ONLY the cells holding
    * deleted ids, then drop the tombstone table. Cells without
    * deletions are untouched on disk (byte-identical — spec-pinned).
    *
    * Crash-safe (ADVICE r11: the former dynamic-partition-overwrite
    * self-read had a non-atomic delete-then-move commit that could lose
    * the SURVIVING rows of a rewritten cell): surviving rows land on a
    * sibling tmp path first, then each affected cell dir is swapped in
    * move-aside -> move-in -> drop-aside order — no window where a
    * cell's survivors exist nowhere durable. The aside root is a
    * SIBLING of the index dir (an in-place `cell=X.__old` dir would be
    * picked up by partition discovery and corrupt reads mid-crash).
    * Tombstones are cleared only after every swap lands; a rerun after
    * any crash heals via [[recoverCompact]] and converges. All paths go
    * through the Hadoop FileSystem — works on hdfs://, s3a://, file://. */
  def compact(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    recoverCompact(spark, dir)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ts = tombstones(spark, dir)
    val stored = spark.read.parquet(dir)
    // cell values holding deleted ids: bounded by the tombstone count
    val affected = stored.join(broadcast(ts), Seq("id"))
      .select("cell").distinct().collect().map(_.get(0))
    if (affected.isEmpty) { // nothing stored to fold (or no tombstones)
      f.delete(new org.apache.hadoop.fs.Path(tombDir(dir)), true)
      return
    }
    val affectedDf = spark.createDataFrame(
      spark.sparkContext.parallelize(affected.toSeq.map(org.apache.spark.sql.Row(_)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cell",
          stored.schema("cell").dataType))))
    val rewritten = stored
      .join(broadcast(affectedDf), Seq("cell"))
      .join(broadcast(ts), Seq("id"), "left_anti")
      // column order: data columns first, partition column last
      .select(stored.columns.filter(_ != "cell").map(col) :+ col("cell"): _*)
    val tmp = compactTmp(dir)
    rewritten.write.partitionBy("cell").mode("overwrite").parquet(tmp)
    val asideRoot = new org.apache.hadoop.fs.Path(compactAside(dir))
    require(f.mkdirs(asideRoot), s"failed to create $asideRoot")
    affected.foreach { v =>
      val leaf = s"cell=${escapePathName(String.valueOf(v))}"
      val live = new org.apache.hadoop.fs.Path(dir, leaf)
      val stage = new org.apache.hadoop.fs.Path(tmp, leaf)
      require(f.rename(live, new org.apache.hadoop.fs.Path(asideRoot, leaf)),
        s"failed to move $live aside during compact")
      // a cell whose every row was tombstoned has no staged replacement:
      // moving it aside IS the rewrite
      if (f.exists(stage))
        require(f.rename(stage, live),
          s"failed to swap $stage into $live — original preserved under $asideRoot")
    }
    // every swap landed: drop the aside/tmp dirs FIRST, tombstones
    // LAST (ADVICE r12). The old tombstones-first order had a
    // non-converging crash window: with tombstones gone but the aside
    // root still present, a fully-tombstoned cell (moved aside with no
    // staged replacement — the move IS its rewrite) would be RESTORED
    // by the next run's recoverCompact, permanently resurrecting its
    // deleted vectors. In this order every window converges: while
    // tombstones exist a rerun either re-heals (aside present) or
    // computes an empty affected set and just drops the tombstone
    // table (aside gone — deletions already folded in).
    f.delete(asideRoot, true)
    f.delete(new org.apache.hadoop.fs.Path(tmp), true)
    require(f.delete(new org.apache.hadoop.fs.Path(tombDir(dir)), true) ||
      !f.exists(new org.apache.hadoop.fs.Path(tombDir(dir))),
      s"failed to clear tombstones under $dir")
  }

  // -------------------------------------------------------------------
  // Snapshot-versioned layout: the same maintained-index contract on
  // graft.pipeline.VersionedTable — readers PIN a version, so serving
  // is consistent even mid-upsert/mid-compact (the plain layout's
  // compact has an unavoidable transient window; the versioned one has
  // none), deletes are immediate O(affected cells) manifest rewrites
  // (no tombstone side table), and every maintenance step leaves the
  // previous index readable as version N-1 until pruned. Cell is the
  // partition key, so unaffected cells' FILES are reused byte-for-byte
  // across versions — upsert/delete cost tracks the batch, never the
  // index (VersionedTableSpec proves the reuse at the manifest level).
  // -------------------------------------------------------------------

  /** Initial versioned build: one committed version, cell-partitioned. */
  def buildVersioned(spark: SparkSession, root: String, corpus: DataFrame,
                     vecCol: String, idCol: String,
                     codebook: Seq[Seq[Double]]): Long =
    graft.pipeline.VersionedTable.write(spark, root,
      assign(corpus, vecCol, idCol, codebook), partitionBy = Seq("cell"))

  /** Versioned upsert: map-only assignment merged on (cell, id) —
    * re-sent ids REPLACE in place (latest-wins within a cell; an id
    * whose vector moved cells must be deleted first, the same
    * append-log caveat as [[upsert]]). Only the batch's cells rewrite. */
  def upsertVersioned(spark: SparkSession, root: String, batch: DataFrame,
                      vecCol: String, idCol: String,
                      codebook: Seq[Seq[Double]]): Long =
    graft.pipeline.VersionedTable.merge(spark, root,
      assign(batch, vecCol, idCol, codebook),
      uniqueKey = Seq("cell", "id"), partitionBy = Seq("cell"))

  /** Versioned delete: resolve the ids' cells from the current version
    * (a broadcast semi-join), then rewrite ONLY those cells. Returns
    * the new version (or the current one when nothing matched). */
  def deleteVersioned(spark: SparkSession, root: String,
                      ids: Seq[Long]): Long = {
    import spark.implicits._
    val keys = graft.pipeline.VersionedTable.read(spark, root)
      .join(broadcast(ids.toDF("id")), Seq("id"))
      .select("cell", "id").distinct()
    graft.pipeline.VersionedTable.deleteKeys(spark, root, keys,
      keyCols = Seq("cell", "id"), partitionBy = Seq("cell"))
  }

  /** The live versioned index: resolves the CURRENT version once —
    * consistent for the reader's whole lifetime. */
  def servingVersioned(spark: SparkSession, root: String): DataFrame =
    graft.pipeline.VersionedTable.read(spark, root)
}
