package graft

import java.nio.file.Files

import graft.pipeline.{PublishSet, VersionedTable}
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._

/** [[EventStreams.ragReleaseStreamQuery]] — the PublishSet release
  * folded into the streaming RAG tick: every epoch lands member commits
  * plus ONE registry commit, readers resolve whole epochs only, a
  * failed accretion gate publishes nothing, and a checkpoint-reset
  * replay re-runs the idempotent member merges but never
  * double-releases an epoch. */
class StreamingReleaseSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8
  private val codebook: Seq[Seq[Double]] =
    (0 until 4).map(c => (0 until dim).map(j =>
      math.abs(math.sin(c * dim + j + 1)) + 0.01).toSeq)

  private def docText(i: Long): String =
    (0 until 60).map(t => s"w${i}_$t").mkString(" ") // 60 toks -> 2 chunks

  test("release per epoch: atomic member set with pinned codebook; gate skips a shrinking epoch; replay never double-releases") {
    val land = Files.createTempDirectory("graft-rel-land")
    val base = Files.createTempDirectory("graft-rel-roots").toString
    val (reg, chunks, idx, cb) =
      (s"$base/_REL", s"$base/CHUNKS", s"$base/IDX", s"$base/CB")
    val schema = Seq((0L, "x")).toDF("doc_id", "text").schema

    def land1(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(land.toString)

    def tick(): Unit =
      EventStreams.ragReleaseStreamQuery(spark,
        spark.readStream.schema(schema).parquet(land.toString),
        "text", "doc_id", codebook, dim, reg, chunks, idx, cb)
        .awaitTermination()

    // ---- epoch 0: 6 docs -> 12 chunks; first release pins all three
    land1((0L until 6L).map(i => (i, docText(i))))
    tick()
    assert(PublishSet.currentVersion(spark, reg) === Some(1L))
    assert(PublishSet.note(spark, reg, 1L) === Some("epoch 0 rows 12"))
    val set1 = PublishSet.resolve(spark, reg)
    assert(set1.keySet === Set(chunks, idx, cb))
    assert(set1(cb) === 1L, "frozen codebook pinned at v1")
    assert(VersionedTable.readVersion(spark, idx, set1(idx)).count() === 12L)
    assert(VersionedTable.readVersion(spark, chunks, set1(chunks))
      .count() === 12L)
    assert(VersionedTable.readVersion(spark, cb,
      PublishSet.resolve(spark, reg)(cb)).count() === 4L)

    // ---- a shrinking epoch: delete 2 docs' cells from the index
    // member directly (4 chunks), then tick a re-send of one deleted
    // doc — the new index version holds 10 < the released 12, so the
    // accretion gate must NOT publish; the members advance anyway.
    graft.io.IvfMaintenance.deleteVersioned(spark, idx,
      (0 until 2).flatMap(d => Seq(d * 100000L, d * 100000L + 1L)))
    land1(Seq((0L, docText(0L))))
    tick()
    assert(PublishSet.currentVersion(spark, reg) === Some(1L),
      "a gate-failed epoch must not release")
    assert(PublishSet.resolve(spark, reg) === set1,
      "readers keep resolving the last good epoch")
    assert(VersionedTable.readVersion(spark, idx, set1(idx)).count() === 12L,
      "the pinned release reads version-1 files untouched")

    // ---- epoch 2: 2 new docs -> index 14 >= released 12, releases
    land1((6L until 8L).map(i => (i, docText(i))))
    tick()
    assert(PublishSet.currentVersion(spark, reg) === Some(2L))
    assert(PublishSet.note(spark, reg, 2L) === Some("epoch 2 rows 14"),
      "the skipped epoch 1 never became a release")
    val set2 = PublishSet.resolve(spark, reg)
    assert(set2(cb) === 1L, "codebook stays pinned across epochs")
    // 10 original-surviving + re-sent doc already counted + 4 new = 14
    assert(VersionedTable.readVersion(spark, idx, set2(idx)).count() === 14L)
    // release history is whole: both releases fully readable
    PublishSet.versions(spark, reg).foreach { v =>
      PublishSet.resolveVersion(spark, reg, v).foreach { case (t, mv) =>
        assert(VersionedTable.readVersion(spark, t, mv).count() > 0)
      }
    }

    // ---- checkpoint reset: batch ids restart at 0 while the registry
    // cursor says epoch 2 — the trichotomy fails LOUD before any
    // member merge (silently merging-but-never-releasing until ids
    // catch up would starve release readers, review r14)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$reg.__checkpoint"))
    val idxVBefore = VersionedTable.currentVersion(spark, idx).get
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      tick()
    }
    assert(ex.toString.contains("checkpoint was reset"), ex.toString)
    assert(PublishSet.currentVersion(spark, reg) === Some(2L),
      "a reset replay must never release")
    assert(PublishSet.resolve(spark, reg) === set2)
    assert(VersionedTable.currentVersion(spark, idx).get === idxVBefore,
      "the trichotomy fires BEFORE the member merges")
  }

  test("rollback note does not erase the epoch cursor: a genuine replay after rollback still skips the publish") {
    val land = Files.createTempDirectory("graft-relrb-land")
    val base = Files.createTempDirectory("graft-relrb-roots").toString
    val (reg, chunks, idx, cb) =
      (s"$base/_REL", s"$base/CHUNKS", s"$base/IDX", s"$base/CB")
    val schema = Seq((0L, "x")).toDF("doc_id", "text").schema
    def tick(): Unit =
      EventStreams.ragReleaseStreamQuery(spark,
        spark.readStream.schema(schema).parquet(land.toString),
        "text", "doc_id", codebook, dim, reg, chunks, idx, cb)
        .awaitTermination()
    Seq((0L, docText(0L))).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(land.toString)
    tick() // epoch 0 -> release 1
    Seq((1L, docText(1L))).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(land.toString)
    tick() // epoch 1 -> release 2
    // operator rolls the release back; the rollback's own note is
    // 'rollback to v1', which must NOT reset the epoch cursor
    PublishSet.rollback(spark, reg, to = 1L)
    assert(PublishSet.currentVersion(spark, reg) === Some(3L))
    // a genuine replay of epoch 1 (restart before the checkpoint
    // committed redelivers the same batch id) merges idempotently but
    // publishes NOTHING — before the newest-epoch-note scan, the
    // rollback note parsed to cursor -1 and the replay re-published
    // the state the operator just rolled back (review r14). Driven
    // through the exposed guarded fold, the cmsFoldBatch pattern.
    EventStreams.ragReleaseFoldBatch(spark,
      Seq((1L, docText(1L))).toDF("doc_id", "text"), 1L,
      "text", "doc_id", codebook, dim, reg, chunks, idx, cb,
      gcKeepReleases = None)
    assert(PublishSet.currentVersion(spark, reg) === Some(3L),
      "the replayed epoch must not publish over the rollback")
    assert(PublishSet.resolve(spark, reg).values.toSet === Set(1L),
      "readers keep the rolled-back release")
  }

  test("epoch cursor survives note retention: a registry whose retained window holds only rollback notes still skips a replay (ADVICE r14)") {
    val base = Files.createTempDirectory("graft-relcur-roots").toString
    val (reg, chunks, idx, cb) =
      (s"$base/_REL", s"$base/CHUNKS", s"$base/IDX", s"$base/CB")
    def fold(id: Long, batchId: Long): Unit =
      EventStreams.ragReleaseFoldBatch(spark,
        Seq((id, docText(id))).toDF("doc_id", "text"), batchId,
        "text", "doc_id", codebook, dim, reg, chunks, idx, cb,
        gcKeepReleases = None)
    fold(0L, 0L) // release 1, note 'epoch 0 rows 2'
    fold(1L, 1L) // release 2, note 'epoch 1 rows 4'
    assert(PublishSet.readEpochCursor(spark, reg) === Some((1L, 4L)),
      "publish persists the cursor sidecar")
    PublishSet.rollback(spark, reg, to = 1L) // release 3, rollback note
    // retention leaves ONLY the rollback-noted release: the note-derived
    // cursor is now -1 — before the sidecar, a replayed batch 1 would
    // re-publish OVER the rollback (the ADVICE r14 hole)
    PublishSet.prune(spark, reg, keep = 1)
    assert(PublishSet.versions(spark, reg) === Seq(3L))
    fold(1L, 1L) // genuine replay: must merge idempotently, publish NOTHING
    assert(PublishSet.currentVersion(spark, reg) === Some(3L),
      "the sidecar cursor must hold the trichotomy when notes are gone")
    assert(PublishSet.resolve(spark, reg).values.toSet === Set(1L),
      "readers keep the rolled-back release")
    // and a batch BELOW the cursor is still the loud reset error
    val ex = intercept[IllegalStateException] { fold(0L, 0L) }
    assert(ex.getMessage.contains("checkpoint was reset"), ex.getMessage)
  }

  test("in-tick GC: each publish sweeps the registry and the members to the retained floor") {
    val land = Files.createTempDirectory("graft-relgc-land")
    val base = Files.createTempDirectory("graft-relgc-roots").toString
    val (reg, chunks, idx, cb) =
      (s"$base/_REL", s"$base/CHUNKS", s"$base/IDX", s"$base/CB")
    val schema = Seq((0L, "x")).toDF("doc_id", "text").schema
    def tick(): Unit =
      EventStreams.ragReleaseStreamQuery(spark,
        spark.readStream.schema(schema).parquet(land.toString),
        "text", "doc_id", codebook, dim, reg, chunks, idx, cb,
        gcKeepReleases = Some(1),
        compactMaxFiles = Some(1)).awaitTermination()
    (0 until 3).foreach { e =>
      Seq((100L + e, docText(100L + e))).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(land.toString)
      tick()
    }
    // only the newest epoch release survives the in-tick prune, plus
    // the sweep's own gc-intent/gc-done markers (r15: the cross-process
    // fence routes the GC window through the registry CAS; markers
    // re-pin the current set, so readers see one release's content)
    val retained = PublishSet.versions(spark, reg)
    assert(retained.size === 3, retained.toString)
    assert(retained.map(v => PublishSet.resolveVersion(spark, reg, v))
      .distinct.size === 1, "markers re-pin the epoch's exact set")
    val set = PublishSet.resolve(spark, reg)
    set.foreach { case (t, v) =>
      assert(VersionedTable.readVersion(spark, t, v).count() > 0)
    }
    assert(VersionedTable.readVersion(spark, idx,
      PublishSet.resolve(spark, reg)(idx)).count() === 6L,
      "3 docs x 2 chunks accreted across the gc'd epochs")
    // index versions below the retained release's pin are pruned; the
    // in-tick compaction's content-identical version may sit ABOVE the
    // pin (it is current, so the floor retains it)
    assert(VersionedTable.versions(spark, idx).head === set(idx))
    assert(VersionedTable.versions(spark, idx).forall(_ >= set(idx)))
    intercept[IllegalArgumentException] {
      VersionedTable.readVersion(spark, idx, set(idx) - 1).count()
    }
    // the frozen codebook is pinned by the retained release -> kept
    assert(VersionedTable.versions(spark, cb) === Seq(1L))
    // in-tick compaction: the CURRENT chunks/index manifests hold at
    // most one file per bucket/cell (content proven identical above by
    // the release read); fragmentation from the per-tick merges never
    // accretes
    Seq(chunks, idx).foreach { t =>
      val cur = VersionedTable.currentVersion(spark, t).get
      val byPart = VersionedTable.manifestFiles(spark, t, cur)
        .groupBy(_.split("/").filter(_.startsWith("__pp_")).mkString("/"))
      byPart.foreach { case (p, fs) =>
        assert(fs.size <= 1, s"$t bucket '$p' holds ${fs.size} files")
      }
    }
  }
}
