package graft

import graft.pipeline.VersionedTable
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Snapshot-versioned tables ([[VersionedTable]]): a reader resolved
  * before a rewrite must see ONE consistent version mid-scan; versions
  * time-travel; merge/deleteKeys reuse unaffected partition files
  * (O(affected) maintenance); prune bounds retention. */
class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def root() =
    Files.createTempDirectory("graft-vt").toString + "/tbl"

  test("reader resolved before a swap sees one consistent version after it") {
    val r = root()
    VersionedTable.write(spark, r,
      (1L to 100L).map(i => (i, "v1")).toDF("id", "tag"))
    // resolve NOW: the DataFrame binds to version-1 files
    val pinned = VersionedTable.read(spark, r)
    // a full rewrite commits version 2 (different content + row count)
    VersionedTable.write(spark, r,
      (1L to 50L).map(i => (i, "v2")).toDF("id", "tag"))
    assert(VersionedTable.currentVersion(spark, r) === Some(2L))
    // the pinned reader STILL sees exactly version 1 — no mixing, no
    // mid-swap vanishing relation
    val got = pinned.select("id", "tag").as[(Long, String)].collect()
    assert(got.length === 100 && got.forall(_._2 == "v1"))
    // a fresh reader sees version 2
    assert(VersionedTable.read(spark, r).count() === 50L)
  }

  test("time travel: version N-1 readable until pruned; prune expires it") {
    val r = root()
    VersionedTable.write(spark, r, Seq((1L, "a")).toDF("id", "tag"))
    VersionedTable.write(spark, r, Seq((2L, "b")).toDF("id", "tag"))
    VersionedTable.write(spark, r, Seq((3L, "c")).toDF("id", "tag"))
    assert(VersionedTable.versions(spark, r) === Seq(1L, 2L, 3L))
    assert(VersionedTable.readVersion(spark, r, 2L)
      .select("tag").as[String].head() === "b")
    VersionedTable.prune(spark, r, keep = 2)
    assert(VersionedTable.versions(spark, r) === Seq(2L, 3L))
    intercept[IllegalArgumentException] {
      VersionedTable.readVersion(spark, r, 1L)
    }
    // retained versions still fully readable after prune
    assert(VersionedTable.readVersion(spark, r, 2L).count() === 1L)
    assert(VersionedTable.read(spark, r).count() === 1L)
  }

  test("partition-scoped merge reuses unaffected partition files byte-for-byte") {
    val r = root()
    VersionedTable.write(spark, r,
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
        .toDF("id", "p", "x"),
      partitionBy = Seq("p"))
    def manifestOf(v: Long) = {
      val f = new java.io.File(s"$r/_manifests/v$v")
      scala.io.Source.fromFile(f).getLines().toSet
    }
    val m1 = manifestOf(1L)
    // merge touches only partition b (key = (p, id): partition ⊆ key)
    VersionedTable.merge(spark, r,
      Seq((2L, "b", 99L), (4L, "b", 40L)).toDF("id", "p", "x"),
      uniqueKey = Seq("p", "id"), partitionBy = Seq("p"))
    val m2 = manifestOf(2L)
    // partitions a and c: SAME files referenced (no rewrite)
    val untouched1 = m1.filter(f => f.contains("__pp_p=a/") || f.contains("__pp_p=c/"))
    val untouched2 = m2.filter(f => f.contains("__pp_p=a/") || f.contains("__pp_p=c/"))
    assert(untouched1 === untouched2 && untouched1.nonEmpty)
    // partition b: new files only
    assert(m2.filter(_.contains("__pp_p=b/")).forall(!m1.contains(_)))
    // merged content: delete+insert on (p, id)
    val got = VersionedTable.read(spark, r)
      .select("id", "p", "x").as[(Long, String, Long)].collect().sortBy(_._1)
    assert(got.toSeq === Seq((1L, "a", 10L), (2L, "b", 99L),
      (3L, "c", 30L), (4L, "b", 40L)))
    // version 1 still shows the pre-merge state (time travel)
    assert(VersionedTable.readVersion(spark, r, 1L)
      .filter($"id" === 2L).select("x").as[Long].head() === 20L)
  }

  test("deleteKeys: partition-scoped rewrite; old version keeps the rows") {
    val r = root()
    VersionedTable.write(spark, r,
      (1L to 10L).map(i => (i, s"p${i % 2}", i * 10)).toDF("id", "p", "x"),
      partitionBy = Seq("p"))
    val v = VersionedTable.deleteKeys(spark, r,
      Seq(("p1", 1L), ("p1", 3L)).toDF("p", "id"),
      keyCols = Seq("p", "id"), partitionBy = Seq("p"))
    assert(v === 2L)
    val ids = VersionedTable.read(spark, r).select("id").as[Long].collect().toSet
    assert(ids === (1L to 10L).toSet -- Set(1L, 3L))
    // p0's files are reused verbatim
    def manifestOf(n: Long) =
      scala.io.Source.fromFile(s"$r/_manifests/v$n").getLines().toSet
    assert(manifestOf(1L).filter(_.contains("__pp_p=p0/")) ===
      manifestOf(2L).filter(_.contains("__pp_p=p0/")))
    // recovery window: the deleted rows live in version 1 until pruned
    assert(VersionedTable.readVersion(spark, r, 1L).count() === 10L)
    // deleting nothing commits nothing
    assert(VersionedTable.deleteKeys(spark, r,
      Seq(("p9", 99L)).toDF("p", "id"),
      keyCols = Seq("p", "id"), partitionBy = Seq("p")) === 2L)
  }

  test("compact rewrites into fewer files, content-identical, as a new version") {
    val r = root()
    VersionedTable.write(spark, r,
      (1L to 200L).map(i => (i, i * 2)).toDF("id", "x").repartition(16))
    def nFiles(v: Long) =
      scala.io.Source.fromFile(s"$r/_manifests/v$v").getLines().size
    assert(nFiles(1L) >= 16)
    VersionedTable.compact(spark, r)
    assert(nFiles(2L) < nFiles(1L))
    val a = VersionedTable.readVersion(spark, r, 1L)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    val b = VersionedTable.read(spark, r)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(a === b)
  }

  test("compactPartitions: only fragmented buckets rewrite, others' files reuse verbatim; idempotent; unpartitioned refused") {
    val r = root()
    // bucket p0 fragments (two 8-task merges); p1 stays single-file
    VersionedTable.merge(spark, r,
      (1L to 40L).map(i => ("p0", i, i)).toDF("p", "id", "x")
        .repartition(8),
      uniqueKey = Seq("p", "id"), partitionBy = Seq("p"))
    VersionedTable.merge(spark, r,
      Seq(("p1", 100L, 1L)).toDF("p", "id", "x").coalesce(1),
      uniqueKey = Seq("p", "id"), partitionBy = Seq("p"))
    VersionedTable.merge(spark, r,
      (41L to 80L).map(i => ("p0", i, i)).toDF("p", "id", "x")
        .repartition(8),
      uniqueKey = Seq("p", "id"), partitionBy = Seq("p"))
    val cur = VersionedTable.currentVersion(spark, r).get
    val before = VersionedTable.manifestFiles(spark, r, cur)
    def bucket(fs: Seq[String], p: String) = fs.filter(_.contains(s"p=$p/"))
    assert(bucket(before, "p0").size > 4, before.toString)
    val v = VersionedTable.compactPartitions(spark, r,
      maxFilesPerPartition = 4)
    assert(v === cur + 1)
    val after = VersionedTable.manifestFiles(spark, r, v)
    assert(bucket(after, "p0").size <= 4, after.toString)
    // the untouched bucket's files are the SAME manifest entries — no
    // data movement outside the fragmented partitions
    assert(bucket(after, "p1") === bucket(before, "p1"))
    // content identical; the old fragmented version still time-travels
    val now = VersionedTable.read(spark, r)
      .as[(String, Long, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
    val old = VersionedTable.readVersion(spark, r, cur)
      .as[(String, Long, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
    assert(now === old && now.size === 81)
    // partition-scoped ops keep working on the compacted layout
    VersionedTable.merge(spark, r,
      Seq(("p0", 1L, 999L)).toDF("p", "id", "x"),
      uniqueKey = Seq("p", "id"), partitionBy = Seq("p"))
    assert(VersionedTable.read(spark, r).filter($"id" === 1L)
      .head.getLong(2) === 999L)
    // idempotent: nothing fragmented -> NO new version
    val v2 = VersionedTable.currentVersion(spark, r).get
    assert(VersionedTable.compactPartitions(spark, r,
      maxFilesPerPartition = 4) === v2)
    // unpartitioned tables are refused loudly
    val u = root()
    VersionedTable.write(spark, u, Seq((1L, 1L)).toDF("id", "x"))
    intercept[IllegalArgumentException] {
      VersionedTable.compactPartitions(spark, u)
    }
  }

  test("compactPartitions cold gate: a hot bucket is skipped until it stops being merged") {
    val r = root()
    // two fragmenting merges into p0 — after them p0 is both
    // fragmented AND hot (its newest files came from the current
    // version)
    VersionedTable.merge(spark, r,
      (1L to 40L).map(i => ("p0", i, i)).toDF("p", "id", "x")
        .repartition(8),
      uniqueKey = Seq("p", "id"), partitionBy = Seq("p"))
    VersionedTable.merge(spark, r,
      (41L to 80L).map(i => ("p0", i, i)).toDF("p", "id", "x")
        .repartition(8),
      uniqueKey = Seq("p", "id"), partitionBy = Seq("p"))
    val cur = VersionedTable.currentVersion(spark, r).get
    // coldAfterVersions=2: p0 was touched by the current version ->
    // NOT cold -> no rewrite, no new version (the wasted-I/O case the
    // gate exists for: a hot bucket re-fragments next tick anyway)
    assert(VersionedTable.compactPartitions(spark, r,
      maxFilesPerPartition = 4, coldAfterVersions = 2) === cur)
    // two more merges land ONLY in p1 — the id range rolled past p0,
    // which is still fragmented but now untouched for 2 versions
    for (i <- Seq(100L, 101L))
      VersionedTable.merge(spark, r,
        Seq(("p1", i, i)).toDF("p", "id", "x").coalesce(1),
        uniqueKey = Seq("p", "id"), partitionBy = Seq("p"))
    val cur2 = VersionedTable.currentVersion(spark, r).get
    val before = VersionedTable.manifestFiles(spark, r, cur2)
    def bucket(fs: Seq[String], p: String) = fs.filter(_.contains(s"p=$p/"))
    assert(bucket(before, "p0").size > 4)
    val v = VersionedTable.compactPartitions(spark, r,
      maxFilesPerPartition = 4, coldAfterVersions = 2)
    assert(v === cur2 + 1)
    val after = VersionedTable.manifestFiles(spark, r, v)
    // the now-cold p0 compacted to one file; hot p1's files reused
    // verbatim (it is under the size threshold anyway)
    assert(bucket(after, "p0").size === 1)
    assert(bucket(after, "p1") === bucket(before, "p1"))
    // content preserved
    assert(VersionedTable.read(spark, r).count() === 82L)
    // the compacted bucket is itself "touched by" the new version but
    // single-file -> never re-selected: idempotent under the cadence
    assert(VersionedTable.compactPartitions(spark, r,
      maxFilesPerPartition = 4, coldAfterVersions = 2) === v)
  }

  test("a lagging pointer heals forward: manifest-create IS the commit point") {
    // crash window: version 2's manifest landed (its data was fully
    // staged first) but the writer died before the pointer rename. The
    // manifest's atomic creation is the commit, so v2 must be visible
    // to readers, to prune's anchor, and to the next writer's planning.
    val r = root()
    VersionedTable.write(spark, r, Seq((1L, "a")).toDF("id", "tag"))
    VersionedTable.write(spark, r, Seq((2L, "b")).toDF("id", "tag"))
    // regress the pointer cache to simulate the crash-before-rename
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$r/_current"), "1")
    assert(VersionedTable.currentVersion(spark, r) === Some(2L),
      "currentVersion must heal past the stale pointer")
    assert(VersionedTable.read(spark, r).count() === 1L)
    assert(VersionedTable.read(spark, r).select("id").head.getLong(0) === 2L,
      "read must serve the healed current version, not the pointer's")
    // prune anchors on the HEALED version: v2 survives, v1 expires
    VersionedTable.prune(spark, r, keep = 1)
    assert(VersionedTable.versions(spark, r) === Seq(2L))
    // the next writer plans past the healed version
    assert(VersionedTable.write(spark, r,
      Seq((3L, "c")).toDF("id", "tag")) === 3L)
  }

  test("prune sweeps lost-race staged dirs, but only aged ones") {
    val r = root()
    VersionedTable.write(spark, r, Seq((1L, "a")).toDF("id", "tag"))
    VersionedTable.write(spark, r, Seq((2L, "b")).toDF("id", "tag"))
    // a staged dir for an already-committed slot = a lost optimistic
    // race (its commit CAS can never win); prune deletes it once aged
    val orphan = new java.io.File(s"$r/data/b2_deadbeef")
    assert(orphan.mkdirs())
    java.nio.file.Files.writeString(
      new java.io.File(orphan, "part-0.parquet").toPath, "fake")
    VersionedTable.prune(spark, r, keep = 2)
    assert(orphan.exists, "a FRESH orphan may be a live writer mid-stage")
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2 * 3600 * 1000L)
    java.nio.file.Files.setLastModifiedTime(orphan.toPath, old)
    VersionedTable.prune(spark, r, keep = 2)
    assert(!orphan.exists, "an aged lost-race staged dir is garbage")
    // committed content untouched
    assert(VersionedTable.read(spark, r).count() === 1L)
    assert(VersionedTable.versions(spark, r) === Seq(1L, 2L))
  }

  test("prune never deletes a staged dir with an in-flight _temporary child") {
    val r = root()
    VersionedTable.write(spark, r, Seq((1L, "a")).toDF("id", "tag"))
    VersionedTable.write(spark, r, Seq((2L, "b")).toDF("id", "tag"))
    // a writer whose Spark stage outlives the age threshold: part files
    // land under <dir>/_temporary and the TOP-LEVEL dir mtime stays
    // frozen (ADVICE r13) — age alone must not doom it
    val live = new java.io.File(s"$r/data/b2_cafecafe")
    val tmp = new java.io.File(live, "_temporary/0/task_0")
    assert(tmp.mkdirs())
    java.nio.file.Files.writeString(
      new java.io.File(tmp, "part-0.parquet").toPath, "inflight")
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2 * 3600 * 1000L)
    java.nio.file.Files.setLastModifiedTime(live.toPath, old)
    VersionedTable.prune(spark, r, keep = 2)
    assert(live.exists,
      "an aged dir still holding _temporary is an in-flight Spark write")
    // once the committer's scratch dir is gone it is a true lost-race
    // orphan and the (parameterizable) age threshold applies
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(deleteRec)); f.delete()
    }
    deleteRec(new java.io.File(live, "_temporary"))
    java.nio.file.Files.setLastModifiedTime(live.toPath, old)
    VersionedTable.prune(spark, r, keep = 2, staleAfterMs = 3600 * 1000L)
    assert(!live.exists, "scratch gone + aged = garbage")
    assert(VersionedTable.versions(spark, r) === Seq(1L, 2L))
  }

  test("prune: the setupJob window (dir with _temporary but ZERO files) is never swept") {
    // review r14: the empty-dir sweep branch used to bypass both the
    // _temporary veto and the age guard — a write whose committer had
    // only just created <dir>/_temporary (no part file flushed yet) is
    // file-empty and was deleted mid-flight at ANY age
    val r = root()
    VersionedTable.write(spark, r, Seq((1L, "a")).toDF("id", "tag"))
    val staging = new java.io.File(s"$r/data/b2_beadbead/_temporary/0")
    assert(staging.mkdirs())
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2 * 3600 * 1000L)
    val dir = new java.io.File(s"$r/data/b2_beadbead")
    java.nio.file.Files.setLastModifiedTime(dir.toPath, old)
    VersionedTable.prune(spark, r, keep = 2)
    assert(dir.exists,
      "a file-empty dir still holding _temporary is a live setupJob")
    // a truly empty dir (no _temporary): fresh survives, aged is swept
    val bare = new java.io.File(s"$r/data/b2_cadcad")
    assert(bare.mkdirs())
    VersionedTable.prune(spark, r, keep = 2)
    assert(bare.exists, "a fresh pre-setup dir may be a live writer")
    java.nio.file.Files.setLastModifiedTime(bare.toPath, old)
    VersionedTable.prune(spark, r, keep = 2)
    assert(!bare.exists, "an aged bare dir is a crashed writer's litter")
  }

  test("compact preserves the partition layout; layout mismatch fails loud") {
    val r = root()
    VersionedTable.write(spark, r,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "p", "x"),
      partitionBy = Seq("p"))
    VersionedTable.compact(spark, r)
    // compacted version still carries __pp_p dirs: partition-scoped ops
    // and manifest pruning keep working
    val pruned = VersionedTable.readPartitionsRange(spark, r, "p", Seq("a"),
      "x", Long.MinValue, Long.MaxValue)
    assert(pruned.select("id").as[Long].collect().toSeq === Seq(1L))
    VersionedTable.merge(spark, r, Seq((1L, "a", 99L)).toDF("id", "p", "x"),
      uniqueKey = Seq("p", "id"), partitionBy = Seq("p"))
    assert(VersionedTable.read(spark, r).filter($"id" === 1L)
      .select("x").as[Long].head() === 99L)
    assert(VersionedTable.read(spark, r).count() === 2L,
      "merge after compact must replace, not duplicate")
    // asking for a partition-scoped op with the WRONG layout is an
    // error, not a silent no-match keep-everything
    val e = intercept[IllegalArgumentException] {
      // x is a real column but the table is partitioned by p: a
      // partition-scoped delete keyed on x would match no __pp_x dirs
      VersionedTable.deleteKeys(spark, r, Seq((99L, 1L)).toDF("x", "id"),
        keyCols = Seq("x", "id"), partitionBy = Seq("x"))
    }
    assert(e.getMessage.contains("stored layout"))
  }

  test("timestamp and null partition values fail loud, not silently mismatch") {
    val r = root()
    val ts = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    VersionedTable.write(spark, r,
      Seq((1L, ts, 10L)).toDF("id", "t", "x"), partitionBy = Seq("t"))
    // Spark renders the dir as 2020-01-01 00%3A00%3A00 but JDBC
    // toString appends .0 — the partition-scoped path must REFUSE
    // rather than keep stale rows silently
    val e = intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, r, Seq((1L, ts, 99L)).toDF("id", "t", "x"),
        uniqueKey = Seq("t", "id"), partitionBy = Seq("t"))
    }
    assert(e.getMessage.contains("partition-column type") ||
      e.getMessage.contains("null partition"))
    val r2 = root()
    VersionedTable.write(spark, r2,
      Seq((1L, "a", 10L), (2L, null, 20L)).toDF("id", "p", "x"),
      partitionBy = Seq("p"))
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, r2,
        Seq((2L, null, 99L)).toDF("id", "p", "x")
          .select($"id", $"p".cast("string").as("p"), $"x"),
        uniqueKey = Seq("p", "id"), partitionBy = Seq("p"))
    }
    assert(e2.getMessage.contains("null partition"))
  }

  test("a reader mid-commit never sees a missing pointer (atomic overwrite)") {
    val r = root()
    VersionedTable.write(spark, r, Seq((1L, "a")).toDF("id", "tag"))
    // hammer reads while versions commit: with delete-then-rename this
    // reliably threw "no versioned table"; the atomic rename never does
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      while (!stop.get()) {
        try VersionedTable.currentVersion(spark, r).getOrElse(
          throw new IllegalStateException("pointer missing"))
        catch { case _: Throwable => failures.incrementAndGet() }
      }
    })
    reader.start()
    (2 to 8).foreach { i =>
      VersionedTable.write(spark, r, Seq((i.toLong, "x")).toDF("id", "tag"))
    }
    stop.set(true)
    reader.join()
    assert(failures.get() === 0,
      s"pointer vanished ${failures.get()} times during commits")
  }

  test("rollback restores a prior version by manifest reference, no data movement") {
    val r = root()
    VersionedTable.write(spark, r, Seq((1L, "good")).toDF("id", "tag"))
    VersionedTable.write(spark, r, Seq((2L, "bad")).toDF("id", "tag"))
    val v = VersionedTable.rollback(spark, r, to = 1L)
    assert(v === 3L)
    assert(VersionedTable.read(spark, r)
      .select("tag").as[String].head() === "good")
    // the rollback version references v1's FILES verbatim
    def manifestOf(n: Long) =
      scala.io.Source.fromFile(s"$r/_manifests/v$n").getLines().toSet
    assert(manifestOf(3L) === manifestOf(1L))
    // the bad publish stays inspectable in history
    assert(VersionedTable.readVersion(spark, r, 2L)
      .select("tag").as[String].head() === "bad")
    intercept[IllegalArgumentException] {
      VersionedTable.rollback(spark, r, to = 99L)
    }
  }

  test("Registry Versioned materialization: atomic publishes, merge form, This gate") {
    import graft.pipeline.Pipeline._
    val tmp = Files.createTempDirectory("graft-vt-reg").toString
    val cfg = RunConfig(env = Dev, warehouseRoot = tmp)
    var source = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "p", "x")
    val r = new Registry(spark)
    r.register(Model("V_FULL", "MART", Nil, Versioned()) { _ => source })
    r.register(Model("V_MERGE", "MART", Nil,
        Versioned(uniqueKey = Seq("p", "id")), partitionBy = Seq("p")) { deps =>
      // is_incremental(): only ship rows not already materialized
      deps.get(This) match {
        case Some(existing) =>
          source.join(existing.select("id"), Seq("id"), "left_anti")
        case None => source
      }
    })
    r.run(cfg, Seq("V_FULL", "V_MERGE"))
    val fullRoot = s"$tmp/DEV/MART/V_FULL"
    val mergeRoot = s"$tmp/DEV/MART/V_MERGE"
    assert(VersionedTable.currentVersion(spark, fullRoot) === Some(1L))
    assert(VersionedTable.read(spark, mergeRoot).count() === 2L)
    // second run: full model re-publishes (v2), merge model merges only
    // the delta
    source = source.unionByName(Seq((3L, "a", 30L)).toDF("id", "p", "x"))
    r.run(cfg, Seq("V_FULL", "V_MERGE"))
    assert(VersionedTable.currentVersion(spark, fullRoot) === Some(2L))
    assert(VersionedTable.read(spark, fullRoot).count() === 3L)
    assert(VersionedTable.read(spark, mergeRoot).count() === 3L)
    // resolve() reads the committed version, not the lineage
    assert(r.resolve(cfg)(_("V_MERGE").count()) === 3L)
    // the first publish is still time-travelable
    assert(VersionedTable.readVersion(spark, fullRoot, 1L).count() === 2L)
    // retention: repeated publishes stay bounded by retain (default 3)
    (1 to 4).foreach(_ => r.run(cfg, Seq("V_FULL")))
    assert(VersionedTable.currentVersion(spark, fullRoot) === Some(6L))
    val vs = VersionedTable.versions(spark, fullRoot)
    assert(vs.size === 3 && vs.last === 6L,
      s"scheduler must prune to the retain window, got $vs")
  }

  test("in-JVM concurrent writers serialize: every commit lands, none lost") {
    val r = root()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = VersionedTable.write(spark, r,
            Seq((i.toLong, s"w$i")).toDF("id", "tag"))
        })
      }
      val versions = futures.map(_.get()).sorted
      assert(versions === (1L to 8L), s"lost or duplicated commits: $versions")
      assert(VersionedTable.currentVersion(spark, r) === Some(8L))
      // every version readable, exactly one row each
      (1L to 8L).foreach(v =>
        assert(VersionedTable.readVersion(spark, r, v).count() === 1L))
    } finally pool.shutdown()
  }

  test("a foreign writer advancing the pointer mid-op triggers a retry that lands AFTER it") {
    // r12 behavior was REFUSE; r13 is the optimistic contract
    // (VERDICT r12 next-#3): the eagerly-planned attempt detects the
    // foreign advance at commit, throws internally, and the retry
    // re-plans against the advanced version — the op lands on the next
    // free slot, never overwriting foreign state.
    val r = root()
    VersionedTable.write(spark, r, Seq((1L, "a")).toDF("id", "tag"))
    val pointer = s"$r/_current"
    // the increment's evaluation (inside stageBatch's write job)
    // simulates another PROCESS advancing the table after this op
    // planned its version
    import spark.implicits._
    val evil = spark.range(2).mapPartitions { it =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(pointer), "7")
      it
    }.toDF("id").withColumn("tag", lit("x"))
    val v = VersionedTable.write(spark, r, evil)
    assert(v === 8L, "the retried commit plans past the foreign version")
    assert(VersionedTable.currentVersion(spark, r) === Some(8L))
    assert(VersionedTable.read(spark, r).count() === 2L)
  }

  test("schema evolution: a merged increment adding a column null-pads history") {
    val r = root()
    VersionedTable.write(spark, r,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "p", "x"),
      partitionBy = Seq("p"))
    // increment carries a NEW column y; only partition b rewrites, so
    // the committed version mixes pre- and post-evolution files
    VersionedTable.merge(spark, r,
      Seq((2L, "b", 99L, 7L)).toDF("id", "p", "x", "y"),
      uniqueKey = Seq("p", "id"), partitionBy = Seq("p"))
    val cur = VersionedTable.read(spark, r)
    assert(cur.columns.toSet === Set("id", "p", "x", "y"),
      "mergeSchema read must union the evolved schema deterministically")
    val byId = cur.select("id", "x", "y").collect()
      .map(row => row.getLong(0) -> (row.getLong(1),
        if (row.isNullAt(2)) None else Some(row.getLong(2)))).toMap
    assert(byId(2L) === ((99L, Some(7L))))
    assert(byId(1L) === ((10L, None)), "pre-evolution rows read as NULL y")
    // time travel: the pre-evolution version keeps its original schema
    assert(VersionedTable.readVersion(spark, r, 1L).columns.toSet ===
      Set("id", "p", "x"))
  }

  test("schema evolution via full write: v1 k cols -> v2 k+1 cols, time travel reads both") {
    // the VERDICT r13 next-#5 done-phrase verbatim, on the CTAS path:
    // each version's manifest records ITS schema, so history needs no
    // migration — old versions read with old columns, new with new
    val r = root()
    VersionedTable.write(spark, r, Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))
    VersionedTable.write(spark, r,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "tag", "score"))
    assert(VersionedTable.read(spark, r).columns.toSet ===
      Set("id", "tag", "score"))
    val v1 = VersionedTable.readVersion(spark, r, 1L)
    assert(v1.columns.toSet === Set("id", "tag"))
    assert(v1.count() === 2L)
    assert(VersionedTable.readVersion(spark, r, 2L)
      .select("score").as[Long].collect().sorted.toSeq === Seq(10L, 20L))
  }

  test("schema evolution refuses a type change loudly (additive-only policy)") {
    // renames are policy-refused the same way every additive-only
    // format treats them (a rename = add new column + backfill): the
    // old name's history cannot be silently re-typed or re-pointed
    val r = root()
    VersionedTable.write(spark, r, Seq((1L, "a", 10L)).toDF("id", "p", "x"))
    val e = intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, r,
        Seq((2L, "b", "not-a-long")).toDF("id", "p", "x"),
        uniqueKey = Seq("id"))
    }
    assert(e.getMessage.contains("cannot change the type"), e.getMessage)
  }

  test("model check: random op sequences match an in-memory reference, history included") {
    import scala.util.Random
    val ps = Seq("a", "b", "c")
    for (trial <- 1 to 4) {
      val rnd = new Random(1000 + trial)
      val r = root()
      def randState(): Map[(String, Long), Long] =
        (1 to 2 + rnd.nextInt(5)).map(_ =>
          ((ps(rnd.nextInt(3)), rnd.nextInt(6).toLong),
            rnd.nextInt(100).toLong)).toMap
      def df(m: Map[(String, Long), Long]) =
        m.toSeq.map { case ((p, id), x) => (id, p, x) }.toDF("id", "p", "x")
      def readState(v: Option[Long] = None): Map[(String, Long), Long] =
        (v match {
          case Some(n) => VersionedTable.readVersion(spark, r, n)
          case None => VersionedTable.read(spark, r)
        }).select("id", "p", "x").collect()
          .map(row => (row.getString(1), row.getLong(0)) -> row.getLong(2))
          .toMap
      var history = Vector(randState())
      VersionedTable.write(spark, r, df(history.head), partitionBy = Seq("p"))
      (1 to 10).foreach { _ =>
        rnd.nextInt(5) match {
          case 0 => // full republish
            val m = randState()
            VersionedTable.write(spark, r, df(m), partitionBy = Seq("p"))
            history :+= m
          case 1 => // keyed merge (delete+insert)
            val inc = randState()
            VersionedTable.merge(spark, r, df(inc),
              uniqueKey = Seq("p", "id"), partitionBy = Seq("p"))
            history :+= (history.last -- inc.keys) ++ inc
          case 2 => // delete a strict subset (never empties the table)
            val cur = history.last
            val dels = cur.keys.toSeq.sortBy(_.toString)
              .take(rnd.nextInt(cur.size)) // may be empty -> no-op commit
            val before = VersionedTable.currentVersion(spark, r).get
            VersionedTable.deleteKeys(spark, r,
              dels.map { case (p, id) => (p, id) }.toDF("p", "id"),
              keyCols = Seq("p", "id"), partitionBy = Seq("p"))
            // deleteKeys commits only when something matched
            if (VersionedTable.currentVersion(spark, r).get > before)
              history :+= (cur -- dels)
          case 3 => // rollback to any prior version
            val to = 1 + rnd.nextInt(history.size)
            VersionedTable.rollback(spark, r, to.toLong)
            history :+= history(to - 1)
          case 4 => // compact: content-preserving new version
            VersionedTable.compact(spark, r)
            history :+= history.last
        }
        assert(readState() === history.last,
          s"trial $trial: live state diverged from the model")
        // zone-map invariant after EVERY op (writes, partition-scoped
        // rewrites, rollbacks, compactions — fresh stats + inherited
        // zones in every combination): a random range read must equal
        // the model's filter exactly. Wrong pruning = missing rows.
        val (lo, hi) = {
          val a = rnd.nextInt(100).toLong; val b = rnd.nextInt(100).toLong
          (math.min(a, b), math.max(a, b))
        }
        val got = VersionedTable.readRange(spark, r, "x", lo, hi)
          .select("id", "p", "x").collect()
          .map(row => (row.getString(1), row.getLong(0)) -> row.getLong(2))
          .toMap
        assert(got === history.last.filter { case (_, x) => x >= lo && x <= hi },
          s"trial $trial: readRange($lo,$hi) diverged from the model")
      }
      // the FULL history must replay via time travel
      history.zipWithIndex.foreach { case (m, i) =>
        assert(readState(Some(i + 1L)) === m,
          s"trial $trial: version ${i + 1} diverged from the model")
      }
    }
  }

  test("readPartitionsRange prunes at the manifest, same rows as a filter") {
    val r = root()
    VersionedTable.write(spark, r,
      (1L to 30L).map(i => (i, s"p${i % 3}", i)).toDF("id", "p", "x"),
      partitionBy = Seq("p"))
    val pruned = VersionedTable.readPartitionsRange(spark, r, "p", Seq("p1"),
      "x", Long.MinValue, Long.MaxValue)
    val full = VersionedTable.read(spark, r).filter($"p" === "p1")
    assert(pruned.select("id").as[Long].collect().sorted.toSeq ===
      full.select("id").as[Long].collect().sorted.toSeq)
    // the pruned scan reads strictly fewer files
    assert(pruned.inputFiles.length < VersionedTable.read(spark, r).inputFiles.length)
  }

  test("zone maps: a second-column range skips files the partition key cannot prune (r16)") {
    val r = root()
    // tenant buckets (p) × a range-clustered second column (ts): 3
    // range tasks × 2 tenant dirs = files each covering ~1/3 of ts —
    // the warehouse layout where the bucket key is useless for a time
    // filter and only file stats can skip
    val df = (1L to 300L)
      .map(i => (i, s"t${i % 2}", i, "u%03d".format(i)))
      .toDF("id", "p", "ts", "label")
      .repartitionByRange(3, $"ts")
    VersionedTable.write(spark, r, df, partitionBy = Seq("p"))
    val total = VersionedTable.read(spark, r).inputFiles.length
    val kept = VersionedTable.rangeFiles(spark, r, "ts", 10L, 40L)
    assert(kept.length < total,
      s"zone map must skip files: kept ${kept.length} of $total")
    // the range read scans ONLY the kept files, and the residual
    // filter makes the rows exactly a filter over the full read
    val got = VersionedTable.readRange(spark, r, "ts", 10L, 40L)
    assert(got.inputFiles.length === kept.length)
    assert(got.select("id").as[Long].collect().sorted ===
      (10L to 40L).toArray)
    // string zones prune too (Base64-framed bounds)
    assert(VersionedTable.rangeFiles(spark, r, "label", "u010", "u040")
      .length < total)
    assert(VersionedTable.readRange(spark, r, "label", "u010", "u040")
      .count() === 31L)
    // composed: partition dirs on the bucket key, zones on the range
    val pr = VersionedTable.readPartitionsRange(spark, r, "p", Seq("t1"),
      "ts", 10L, 40L)
    assert(pr.select("id").as[Long].collect().sorted ===
      (10L to 40L).filter(_ % 2 == 1).toArray)
    assert(pr.inputFiles.length < kept.length,
      "partition pruning must compose on top of the zone skip")
  }

  test("zone maps: string bounds compare in UTF-8 order, not UTF-16 (supplementary chars) (r16)") {
    val r = root()
    val supp = new String(Character.toChars(0x10000)) // U+10000
    // ONE file holding both a private-use BMP char and a supplementary
    // char: Spark's binary-UTF-8 min is U+E000, and a UTF-16
    // comparison of that stored min against a supplementary query
    // bound reverses (surrogates sort below U+E000 in UTF-16) — the
    // wrong order would PRUNE the only file that holds the match
    VersionedTable.write(spark, r,
      Seq("\uE000", supp).toDF("s").coalesce(1))
    assert(VersionedTable.rangeFiles(spark, r, "s", supp, supp).nonEmpty,
      "UTF-16 ordering would wrongly skip the matching file")
    assert(VersionedTable.readRange(spark, r, "s", supp, supp)
      .count() === 1L)
  }

  test("zone maps: date and timestamp ranges prune files, TZ-free (r16)") {
    val r = root()
    // day-clustered batch: 3 range tasks over 90 days, each file ~30d
    val df = (0 until 90).map { i =>
      (i.toLong, java.sql.Date.valueOf(java.time.LocalDate.of(2026, 1, 1)
        .plusDays(i.toLong)),
        java.sql.Timestamp.from(java.time.Instant.parse("2026-01-01T00:00:00Z")
          .plusSeconds(i * 86400L)))
    }.toDF("id", "d", "t").repartitionByRange(3, $"id")
    VersionedTable.write(spark, r, df)
    val total = VersionedTable.read(spark, r).inputFiles.length
    assert(total >= 3)
    // a 10-day window: only one file's [min,max] intersects
    val (lo, hi) = (java.time.LocalDate.of(2026, 1, 10),
      java.time.LocalDate.of(2026, 1, 19))
    assert(VersionedTable.rangeFiles(spark, r, "d", lo, hi).length < total)
    assert(VersionedTable
      .readRange(spark, r, "d", java.sql.Date.valueOf(lo),
        java.sql.Date.valueOf(hi)).count() === 10L)
    // same for the instant column, bounds as Instant AND Timestamp
    val (ilo, ihi) = (java.time.Instant.parse("2026-01-10T00:00:00Z"),
      java.time.Instant.parse("2026-01-19T00:00:00Z"))
    assert(VersionedTable.rangeFiles(spark, r, "t", ilo, ihi)
      .length < total)
    assert(VersionedTable.readRange(spark, r, "t",
      java.sql.Timestamp.from(ilo), java.sql.Timestamp.from(ihi))
      .count() === 10L)
  }

  test("zone maps: pre-Gregorian timestamp bounds rebase like the filter literal (r16)") {
    val r = root()
    // 1500-03-01 sits in the Julian/Gregorian divergence window: a
    // java.sql.Timestamp's toInstant is ~10 days away from the
    // field-preserving rebase Catalyst applies to lit(Timestamp), so a
    // toInstant-converted bound would PRUNE the only file whose rows
    // the residual filter matches
    val t = java.sql.Timestamp.valueOf("1500-03-01 00:00:00")
    VersionedTable.write(spark, r,
      Seq((1L, t)).toDF("id", "t").coalesce(1))
    assert(VersionedTable.rangeFiles(spark, r, "t", t, t).nonEmpty,
      "toInstant-converted bounds would wrongly skip the file")
    assert(VersionedTable.readRange(spark, r, "t", t, t).count() === 1L)
  }

  test("zone maps: a narrow range keeps O(1) files while versions accumulate (r16)") {
    val r = root()
    // ten day-batches merged into one partitioned table: each merge
    // touches ONE partition, files accumulate across versions, and a
    // single-day range must keep reading a BOUNDED file set — the
    // property that makes the zone map an index rather than a hint
    (0 until 10).foreach { day =>
      VersionedTable.merge(spark, r,
        (0 until 20).map(i => (s"b$day", day * 20L + i, day * 100L + i))
          .toDF("p", "id", "ts").coalesce(1),
        uniqueKey = Seq("p", "id"), partitionBy = Seq("p"))
    }
    val total = VersionedTable.read(spark, r).inputFiles.length
    assert(total >= 10, s"expected one file per day-batch, got $total")
    // day 7's ts range lives in exactly one batch file
    val kept = VersionedTable.rangeFiles(spark, r, "ts", 700L, 719L)
    assert(kept.length === 1, s"narrow range must keep 1 of $total: $kept")
    assert(VersionedTable.readRange(spark, r, "ts", 700L, 719L)
      .count() === 20L)
  }

  test("zone maps: kept files inherit zones through merges and rollback; legacy manifests never prune (r16)") {
    val r = root()
    // partition correlates with ts: a = [1,50], b = [51,100]
    VersionedTable.write(spark, r,
      (1L to 100L).map(i => (i, if (i <= 50) "a" else "b", i))
        .toDF("id", "p", "ts"),
      partitionBy = Seq("p"))
    val all = VersionedTable.read(spark, r).inputFiles.length
    assert(VersionedTable.rangeFiles(spark, r, "ts", 60L, 70L)
      .length < all, "a-partition files must be skipped for ts 60-70")
    // a merge rewrites ONLY partition a; b's files are reused and must
    // KEEP their zones on the new version (inheritance, not recompute)
    VersionedTable.merge(spark, r, Seq((1L, "a", 1L)).toDF("id", "p", "ts"),
      uniqueKey = Seq("id", "p"), partitionBy = Seq("p"))
    val all2 = VersionedTable.read(spark, r).inputFiles.length
    val kept2 = VersionedTable.rangeFiles(spark, r, "ts", 60L, 70L)
    assert(kept2.length < all2, "inherited zones must still prune after a merge")
    assert(VersionedTable.readRange(spark, r, "ts", 60L, 70L)
      .count() === 11L)
    // rollback commits an OLD file list: zones inherit from retained
    // manifests (search is manifest-level — no table-sized stats scan)
    VersionedTable.rollback(spark, r, to = 1L)
    assert(VersionedTable.rangeFiles(spark, r, "ts", 60L, 70L)
      .length < VersionedTable.read(spark, r).inputFiles.length)
    // legacy manifest (no #zm lines): strip them from the current
    // manifest — pruning degrades to keep-everything, results stay
    // exact via the residual filter
    val cur = VersionedTable.currentVersion(spark, r).get
    val mf = java.nio.file.Paths.get(s"$r/_manifests/v$cur")
    val legacy = new String(java.nio.file.Files.readAllBytes(mf), "UTF-8")
      .linesIterator.filterNot(_.startsWith("#zm=")).mkString("\n")
    java.nio.file.Files.write(mf, legacy.getBytes("UTF-8"))
    val allNow = VersionedTable.read(spark, r).inputFiles.length
    assert(VersionedTable.rangeFiles(spark, r, "ts", 60L, 70L)
      .length === allNow, "no zones -> conservative keep-everything")
    assert(VersionedTable.readRange(spark, r, "ts", 60L, 70L)
      .count() === 11L)
  }

  test("q62 gate shape: versioned range read prunes files AND matches the direct scan (r17)") {
    val dir = "/root/testdata/sf0.001"
    // the gated query itself — build (write + partition-scoped merge),
    // then readPartitionsRange through the manifest's dir + zone prune
    val got = graft.queries.ExtQueries.q62VersionedRange(spark, dir)
      .collect().map(_.toSeq)
    // the oracle semantics: same band over the raw parquet
    val want = spark.read.parquet(s"$dir/orders.parquet")
      .withColumn("bucket", pmod(col("o_orderkey"), lit(8L)))
      .withColumn("od_day", expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000"))
      .filter(col("bucket").isin(0L, 2L, 5L) &&
        col("od_day").between(9496L, 9677L))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("od_day"), col("bucket"))
      .orderBy(col("o_orderkey"))
      .collect().map(_.toSeq)
    assert(got.nonEmpty && got.toSeq === want.toSeq)
    // the prune is REAL on the q62 build shape: rebuild it here and
    // count manifest-level survivors — dir pruning must cut buckets,
    // zone pruning must cut day-band files inside surviving buckets
    val r = Files.createTempDirectory("graft-vt-q62").toString + "/tbl"
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .withColumn("bucket", pmod(col("o_orderkey"), lit(8L)))
      .withColumn("od_day", expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000"))
    VersionedTable.write(spark, r,
      orders.repartitionByRange(64, col("bucket"), col("od_day")),
      partitionBy = Seq("bucket"))
    VersionedTable.merge(spark, r,
      orders.filter(col("bucket") === 0L)
        .repartitionByRange(8, col("od_day")),
      uniqueKey = Seq("bucket", "o_orderkey"), partitionBy = Seq("bucket"))
    val total = VersionedTable.read(spark, r).inputFiles.length
    val banded = VersionedTable.rangeFiles(spark, r, "od_day", 9496L, 9677L)
    assert(banded.length < total,
      s"zone maps must skip files: kept ${banded.length} of $total")
    val scanned = VersionedTable.readPartitionsRange(spark, r, "bucket",
      Seq(0L, 2L, 5L), "od_day", 9496L, 9677L).inputFiles.length
    assert(scanned < banded.length,
      "dir pruning must cut further than the zone band alone")
    // and the doubly-pruned read still returns every matching row
    assert(VersionedTable.readPartitionsRange(spark, r, "bucket",
      Seq(0L, 2L, 5L), "od_day", 9496L, 9677L).count() === want.length)
  }

  test("bloom zones: point lookups skip files min/max provably cannot (q66 gate shape, r18)") {
    // values hash-scattered on id: every file's k-range spans the
    // probe, so min/max zones keep EVERYTHING — the layout the "b"
    // class exists for
    val data = (1L to 4000L).map(i => (i, s"C${i % 400}", i % 4))
      .toDF("id", "ck_tag", "bucket")
    // control: SAME table without the bloom config — min/max only
    val plain = root()
    VersionedTable.write(spark, plain, data.repartition(8, col("id")),
      partitionBy = Seq("bucket"))
    val allPlain = VersionedTable.read(spark, plain).inputFiles.length
    assert(VersionedTable.rangeFiles(spark, plain, "ck_tag", "C7", "C7")
      .length === allPlain,
      "min/max zones must NOT prune a hash-scattered point probe — " +
        "otherwise this test proves nothing about the bloom class")
    // indexed: bloom config declared BEFORE the write
    val r = root()
    VersionedTable.setBloomColumns(spark, r, Seq("ck_tag"))
    VersionedTable.write(spark, r, data.repartition(8, col("id")),
      partitionBy = Seq("bucket"))
    val all = VersionedTable.read(spark, r).inputFiles.length
    val kept = VersionedTable.rangeFiles(spark, r, "ck_tag", "C7", "C7")
    assert(kept.length < all,
      s"bloom zones must skip files on a point probe: kept ${kept.length} of $all")
    // no false negatives: every point read == the filtered full read
    Seq("C7", "C0", "C399").foreach { v =>
      val got = VersionedTable.readPoint(spark, r, "ck_tag", v)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      val want = VersionedTable.read(spark, r).filter(col("ck_tag") === v)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got === want && got.nonEmpty)
    }
    // an absent value prunes (near-)everything and returns zero rows
    assert(VersionedTable.readPoint(spark, r, "ck_tag", "C9999")
      .count() === 0L)
    assert(VersionedTable.rangeFiles(spark, r, "ck_tag", "C9999", "C9999")
      .length < all)
    // a RANGE never bloom-prunes (only min/max participates)
    assert(VersionedTable.readRange(spark, r, "ck_tag", "C0", "C9999")
      .count() === 4000L)
    // kept files inherit their bloom zones through a partition-scoped
    // merge (the r16 inheritance contract, third zone class)
    VersionedTable.merge(spark, r,
      Seq((1L, "C1", 1L)).toDF("id", "ck_tag", "bucket"),
      uniqueKey = Seq("id", "bucket"), partitionBy = Seq("bucket"))
    val all2 = VersionedTable.read(spark, r).inputFiles.length
    assert(VersionedTable.rangeFiles(spark, r, "ck_tag", "C7", "C7")
      .length < all2, "inherited bloom zones must still prune")
    assert(VersionedTable.readPoint(spark, r, "ck_tag", "C7")
      .count() === 10L)
  }

  test("dir-level bloom unions: whole partition dirs skip before any per-file zone (q68, r18)") {
    // tag correlated with the PARTITION key (customer shard), files
    // scattered on id within shards — the layout where the dir union
    // is the star: 7 of 8 dirs reject the probe with ONE test each
    val data = (1L to 4000L).map(i => (i, s"C${i % 400}", (i % 400) % 8))
      .toDF("id", "ck_tag", "shard")
    val r = root()
    VersionedTable.setBloomColumns(spark, r, Seq("ck_tag"))
    VersionedTable.write(spark, r, data.repartition(4, col("id")),
      partitionBy = Seq("shard"))
    val (kept, st) = VersionedTable.rangeFileStats(spark, r, "ck_tag", "C7", "C7")
    assert(st.dirsTotal === 8)
    assert(st.dirsBloomPruned >= 6,
      s"dir unions must reject the foreign shards: $st")
    assert(st.filesDirPruned > 0 && st.filesKept === kept.length)
    // the hierarchy is real: files of dir-pruned chains never reach the
    // per-file pass (counts partition exactly)
    assert(st.filesDirPruned + st.filesZonePruned + st.filesKept === st.filesTotal)
    // exactness: doubly-pruned point read == filtered full read
    val got = VersionedTable.readPoint(spark, r, "ck_tag", "C7")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val want = VersionedTable.read(spark, r).filter(col("ck_tag") === "C7")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === want && got.nonEmpty)
  }

  test("dir-level bloom unions: bloom-less members keep their dir (conservative)") {
    // v1 lands BEFORE the bloom config exists: its files (and dirs)
    // have no blooms. A later partition-scoped merge restages shard 0
    // under the config — only that dir earns a union. Probes must
    // never dir-prune the legacy dirs.
    val data = (1L to 2000L).map(i => (i, s"C${i % 200}", (i % 200) % 4))
      .toDF("id", "ck_tag", "shard")
    val r = root()
    VersionedTable.write(spark, r, data.repartition(2, col("id")),
      partitionBy = Seq("shard"))
    VersionedTable.setBloomColumns(spark, r, Seq("ck_tag"))
    VersionedTable.merge(spark, r,
      data.filter(col("shard") === 0L),
      uniqueKey = Seq("id", "shard"), partitionBy = Seq("shard"))
    // C1 lives only in legacy shard 1: the bloom'd shard-0 dir is
    // rejected by its union; the legacy dirs all survive (no union)
    val (_, st) = VersionedTable.rangeFileStats(spark, r, "ck_tag", "C1", "C1")
    assert(st.dirsBloomPruned === 1,
      s"only the restaged dir can prove absence: $st")
    // C0 lives only in shard 0 (the bloom'd dir): it must be KEPT —
    // and the legacy dirs keep too (conservative), so nothing dir-prunes
    val (_, st0) = VersionedTable.rangeFileStats(spark, r, "ck_tag", "C0", "C0")
    assert(st0.dirsBloomPruned === 0, s"no dir may prove absence of C0: $st0")
    // exactness through the mixed-generation table
    Seq("C0", "C1", "C199").foreach { v =>
      val got = VersionedTable.readPoint(spark, r, "ck_tag", v)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      val want = VersionedTable.read(spark, r).filter(col("ck_tag") === v)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got === want && got.nonEmpty)
    }
  }

  test("dir-level bloom unions survive compaction (fresh files earn fresh blooms)") {
    val data = (1L to 2000L).map(i => (i, s"C${i % 200}", (i % 200) % 4))
      .toDF("id", "ck_tag", "shard")
    val r = root()
    VersionedTable.setBloomColumns(spark, r, Seq("ck_tag"))
    VersionedTable.write(spark, r, data.repartition(6, col("id")),
      partitionBy = Seq("shard"))
    VersionedTable.compact(spark, r)
    // compacted files are FRESH: commit recomputes their per-file
    // blooms from the _bloom config and rebuilds the dir unions, so
    // the point probe still skips the foreign shards at the dir level
    val (_, st) = VersionedTable.rangeFileStats(spark, r, "ck_tag", "C1", "C1")
    assert(st.dirsBloomPruned === 3,
      s"compaction must not lose the dir-level index: $st")
    val got = VersionedTable.readPoint(spark, r, "ck_tag", "C1")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val want = VersionedTable.read(spark, r).filter(col("ck_tag") === "C1")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === want && got.nonEmpty)
  }

  test("q68 gate shape: dir-bloom point read matches the direct scan") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.queries.ExtQueries.q68BloomDir(spark, dir)
      .collect().map(_.toSeq)
    val probes = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_custkey")).distinct()
      .orderBy(md5(col("o_custkey").cast("string")), col("o_custkey"))
      .limit(3).collect().map(_.getLong(0))
    val want = spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_custkey").isin(probes: _*))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"),
        pmod(col("o_custkey"), lit(8L)).as("shard"),
        concat(lit("C"), col("o_custkey").cast("string")).as("ck_tag"))
      .orderBy(col("o_orderkey"))
      .collect().map(_.toSeq)
    assert(got.nonEmpty && got.toSeq === want.toSeq)
  }

  test("q66 gate shape: bloom point read matches the direct scan") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.queries.ExtQueries.q66BloomPoint(spark, dir)
      .collect().map(_.toSeq)
    // the data-derived probe set, replayed the oracle's way
    val probes = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_custkey")).distinct()
      .orderBy(md5(col("o_custkey").cast("string")), col("o_custkey"))
      .limit(3).collect().map(_.getLong(0))
    val want = spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_custkey").isin(probes: _*))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"),
        pmod(col("o_orderkey"), lit(4L)).as("bucket"),
        concat(lit("C"), col("o_custkey").cast("string")).as("ck_tag"))
      .orderBy(col("o_orderkey"))
      .collect().map(_.toSeq)
    assert(got.nonEmpty && got.toSeq === want.toSeq)
  }
}
