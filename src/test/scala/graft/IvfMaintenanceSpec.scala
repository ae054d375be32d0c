package graft

import graft.io.IvfMaintenance
import graft.operators.Similarity
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Vector-index maintenance ([[IvfMaintenance]]): upsert+delete must
  * equal a from-scratch rebuild under the frozen quantizer, tombstones
  * must be invisible to the index scan, and compaction must rewrite
  * ONLY the cells holding deleted ids. */
class IvfMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  // 2-D ring corpus: 4 well-separated quadrant centroids
  private def vecs(ids: Range) = ids.map { i =>
    val angle = i * 2 * math.Pi / 200.0
    (i.toLong, Array(math.cos(angle).toFloat, math.sin(angle).toFloat))
  }.toDF("vec_id", "embedding")
  private val codebook = Seq(
    Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(-1.0, 0.0), Seq(0.0, -1.0))

  private def cellFiles(dir: String): Map[String, Set[String]] =
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("cell="))
      .map(d => d.getName -> d.listFiles().map(f =>
        f.getName + ":" + f.lastModified()).toSet).toMap

  test("build + upsert + delete == rebuild of the live corpus; compact touches only affected cells") {
    val dir = Files.createTempDirectory("graft-ivfm").toString + "/idx"
    IvfMaintenance.build(dir, vecs(0 until 120), "embedding", "vec_id", codebook)
    IvfMaintenance.upsert(dir, vecs(120 until 200), "embedding", "vec_id", codebook)
    // delete ids that live in cell 0 only (angles near 0 / 2pi)
    val dead = Seq(1L, 2L, 198L)
    IvfMaintenance.delete(spark, dir, dead)

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("cell")).as[(Long, Long)]
        .collect().sortBy(_._1).toSeq
    val served = canon(IvfMaintenance.serving(spark, dir))
    val rebuilt = canon(Similarity.cellAssignments(
      vecs(0 until 200).filter(!col("vec_id").isin(dead: _*)),
      "embedding", "vec_id", codebook))
    assert(served === rebuilt, "maintained index must equal a rebuild")
    assert(!served.map(_._1).exists(dead.contains(_)))

    // search over the maintained index == trained search on live corpus
    val queries = Seq((1000L, Array(0.9f, 0.1f))).toDF("vec_id", "embedding")
    val a = Similarity.ivfTopKOnAssigned(IvfMaintenance.serving(spark, dir),
        queries, "embedding", "vec_id", k = 3, codebook, nProbe = 2)
      .select("rank", "id").as[(Long, Long)].collect().toSeq.sorted
    val b = Similarity.ivfTopK(
        vecs(0 until 200).filter(!col("vec_id").isin(dead: _*)),
        queries, "embedding", "vec_id", k = 3, codebook, nProbe = 2)
      .select("rank", "id").as[(Long, Long)].collect().toSeq.sorted
    assert(a === b)

    // compaction rewrites ONLY the affected cell dirs
    val before = cellFiles(dir)
    val affected = spark.read.parquet(dir)
      .filter(col("id").isin(dead: _*))
      .select("cell").distinct().as[Long].collect().map(c => s"cell=$c").toSet
    assert(affected.nonEmpty && affected.size < before.size,
      s"fixture must leave some cells untouched: $affected")
    IvfMaintenance.compact(spark, dir)
    val after = cellFiles(dir)
    for ((cell, files) <- before if !affected.contains(cell))
      assert(after(cell) === files,
        s"$cell had no deletions and must be byte-untouched")
    // tombstones folded: side table gone, serving unchanged
    assert(!new java.io.File(s"$dir/_graft_tombstones").exists)
    assert(canon(IvfMaintenance.serving(spark, dir)) === rebuilt)
  }

  test("streamed upsert ticks drain into the same index as a batch build") {
    val dir = Files.createTempDirectory("graft-ivfm3").toString + "/idx"
    IvfMaintenance.build(dir, vecs(0 until 100), "embedding", "vec_id", codebook)
    // late vectors land as files; each micro-batch upserts map-only
    // against the frozen codebook — the continuous-ingest serving shape
    val land = Files.createTempDirectory("graft-ivfm3-land").toString + "/in"
    vecs(100 until 200).repartition(2).write.parquet(land)
    val q = spark.readStream
      .schema(spark.read.parquet(land).schema)
      .option("maxFilesPerTrigger", "1").parquet(land)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        IvfMaintenance.upsert(dir, batch, "embedding", "vec_id", codebook)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("cell")).as[(Long, Long)]
        .collect().sortBy(_._1).toSeq
    assert(canon(IvfMaintenance.serving(spark, dir)) ===
      canon(Similarity.cellAssignments(vecs(0 until 200),
        "embedding", "vec_id", codebook)))
  }

  test("compact heals a crash between move-aside and move-in; no row lost") {
    val dir = Files.createTempDirectory("graft-ivfm4").toString + "/idx"
    IvfMaintenance.build(dir, vecs(0 until 200), "embedding", "vec_id", codebook)
    IvfMaintenance.delete(spark, dir, Seq(1L, 2L))
    // simulate the worst crash window of a previous compact: an affected
    // cell dir was moved aside but its staged replacement never moved in
    val cell = spark.read.parquet(dir).filter(col("id") === 1L)
      .select("cell").as[Long].head()
    val aside = new java.io.File(s"$dir.__compact_aside")
    assert(aside.mkdirs())
    val live = new java.io.File(s"$dir/cell=$cell")
    assert(live.renameTo(new java.io.File(aside, s"cell=$cell")))
    // the index is temporarily missing that cell — rerunning compact
    // must first restore it (no surviving row may be lost), then fold
    IvfMaintenance.compact(spark, dir)
    assert(!aside.exists && !new java.io.File(s"$dir.__compact_tmp").exists)
    assert(!new java.io.File(s"$dir/_graft_tombstones").exists)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("cell")).as[(Long, Long)]
        .collect().sortBy(_._1).toSeq
    assert(canon(IvfMaintenance.serving(spark, dir)) ===
      canon(Similarity.cellAssignments(
        vecs(0 until 200).filter(!col("vec_id").isin(1L, 2L)),
        "embedding", "vec_id", codebook)))
  }

  test("compacting a fully-tombstoned cell drops its dir; rerun converges") {
    val dir = Files.createTempDirectory("graft-ivfm5").toString + "/idx"
    IvfMaintenance.build(dir, vecs(0 until 200), "embedding", "vec_id", codebook)
    // tombstone EVERY id of one cell — its staged replacement is empty,
    // so move-aside alone is the rewrite
    val cell = spark.read.parquet(dir).select("cell").as[Long].head()
    val doomed = spark.read.parquet(dir).filter(col("cell") === cell)
      .select("id").as[Long].collect().toSeq
    IvfMaintenance.delete(spark, dir, doomed)
    IvfMaintenance.compact(spark, dir)
    assert(!new java.io.File(s"$dir/cell=$cell").exists,
      "a fully-deleted cell's dir must be gone after compact")
    assert(IvfMaintenance.serving(spark, dir)
      .filter(col("cell") === cell).count() === 0L)
    // idempotent: compacting with no tombstones is a no-op
    IvfMaintenance.compact(spark, dir)
    assert(IvfMaintenance.serving(spark, dir).count() === (200 - doomed.size).toLong)
  }

  test("crash after a fully-tombstoned cell's swap never resurrects it (ADVICE r12)") {
    // The r12 cleanup order (tombstones cleared BEFORE the aside root
    // was dropped) had a non-converging window: crash there and the
    // next run's recoverCompact restored the fully-tombstoned cell —
    // whose move-aside WAS its rewrite — with no tombstones left to
    // re-drop it. The fixed order deletes aside/tmp first, so every
    // tombstones-present window reconverges. Simulate the widest such
    // window: all swaps landed (cell moved aside, no staged
    // replacement), aside still on disk, tombstones still on disk.
    val dir = Files.createTempDirectory("graft-ivfm6").toString + "/idx"
    IvfMaintenance.build(dir, vecs(0 until 200), "embedding", "vec_id", codebook)
    val cell = spark.read.parquet(dir).select("cell").as[Long].head()
    val doomed = spark.read.parquet(dir).filter(col("cell") === cell)
      .select("id").as[Long].collect().toSeq
    IvfMaintenance.delete(spark, dir, doomed)
    val aside = new java.io.File(s"$dir.__compact_aside")
    assert(aside.mkdirs())
    assert(new java.io.File(s"$dir/cell=$cell")
      .renameTo(new java.io.File(aside, s"cell=$cell")))
    IvfMaintenance.compact(spark, dir) // the rerun after the crash
    assert(!new java.io.File(s"$dir/cell=$cell").exists,
      "rerun must re-fold the restored fully-tombstoned cell, not resurrect it")
    assert(!aside.exists && !new java.io.File(s"$dir/_graft_tombstones").exists)
    assert(IvfMaintenance.serving(spark, dir)
      .filter(col("id").isin(doomed: _*)).count() === 0L,
      "deleted vectors must stay deleted across any crash/rerun")
    assert(IvfMaintenance.serving(spark, dir).count() === (200 - doomed.size).toLong)
  }

  test("versioned index: build+upsert+delete == rebuild; pinned reader survives maintenance; unaffected cells' files reused") {
    import graft.pipeline.VersionedTable
    val root = Files.createTempDirectory("graft-ivfv").toString + "/idx"
    IvfMaintenance.buildVersioned(spark, root, vecs(0 until 120),
      "embedding", "vec_id", codebook)
    IvfMaintenance.upsertVersioned(spark, root, vecs(120 until 200),
      "embedding", "vec_id", codebook)
    // pin a reader BEFORE the delete: maintenance must not disturb it
    val pinned = IvfMaintenance.servingVersioned(spark, root)
    val preDelete = pinned.count()
    val dead = Seq(1L, 2L, 198L) // all in cell 0
    IvfMaintenance.deleteVersioned(spark, root, dead)

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("cell")).as[(Long, Long)]
        .collect().sortBy(_._1).toSeq
    assert(canon(IvfMaintenance.servingVersioned(spark, root)) ===
      canon(Similarity.cellAssignments(
        vecs(0 until 200).filter(!col("vec_id").isin(dead: _*)),
        "embedding", "vec_id", codebook)))
    // the pinned reader still sees the pre-delete index mid-"compact"
    assert(pinned.count() === preDelete)
    // the delete rewrote ONLY cell 0: other cells' files are reused
    def manifestOf(v: Long) = scala.io.Source
      .fromFile(s"$root/_manifests/v$v").getLines().toSet
    val before = manifestOf(2L).filterNot(_.contains("__pp_cell=0/"))
    val after = manifestOf(3L).filterNot(_.contains("__pp_cell=0/"))
    assert(before === after && before.nonEmpty,
      "cells without deletions must reference the same files")
    // search over the versioned serving == trained search on live corpus
    val queries = Seq((1000L, Array(0.9f, 0.1f))).toDF("vec_id", "embedding")
    val a = Similarity.ivfTopKOnAssigned(
        IvfMaintenance.servingVersioned(spark, root),
        queries, "embedding", "vec_id", k = 3, codebook, nProbe = 2)
      .select("rank", "id").as[(Long, Long)].collect().toSeq.sorted
    val b = Similarity.ivfTopK(
        vecs(0 until 200).filter(!col("vec_id").isin(dead: _*)),
        queries, "embedding", "vec_id", k = 3, codebook, nProbe = 2)
      .select("rank", "id").as[(Long, Long)].collect().toSeq.sorted
    assert(a === b)
    // re-sent id replaces in place (latest-wins within its cell)
    val moved = Seq((5L, Array(0.95f, 0.05f))).toDF("vec_id", "embedding")
    IvfMaintenance.upsertVersioned(spark, root, moved,
      "embedding", "vec_id", codebook)
    assert(IvfMaintenance.servingVersioned(spark, root)
      .filter(col("id") === 5L).count() === 1L)
    // time travel: the pre-delete index is still readable at version 2
    assert(VersionedTable.readVersion(spark, root, 2L).count() === preDelete)
  }

  test("delete is O(ids): nothing in the index moves until compaction") {
    val dir = Files.createTempDirectory("graft-ivfm2").toString + "/idx"
    IvfMaintenance.build(dir, vecs(0 until 50), "embedding", "vec_id", codebook)
    val before = cellFiles(dir)
    IvfMaintenance.delete(spark, dir, Seq(3L, 4L))
    assert(cellFiles(dir) === before, "delete must not rewrite the index")
    assert(IvfMaintenance.serving(spark, dir)
      .filter(col("id").isin(3L, 4L)).count() === 0L)
  }
}
