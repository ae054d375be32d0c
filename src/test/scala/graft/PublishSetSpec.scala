package graft

import graft.pipeline.{PublishSet, VersionedTable}

/** [[PublishSet]] — the manifest-of-manifests release registry
  * (VERDICT r13 next-#4). The load-bearing property: a reader
  * resolving through the registry gets a CONSISTENT cross-table set at
  * every instant — the torn window between member commits and the
  * registry commit is invisible, and rollback restores the whole set
  * in one commit. */
class PublishSetSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-release").toString

  test("publish/resolve: one atomic set; member currents do not leak") {
    val d = tmp()
    val (a, b, reg) = (s"$d/A", s"$d/B", s"$d/_REL")
    VersionedTable.write(spark, a, Seq((1L, "a1")).toDF("id", "tag"))
    VersionedTable.write(spark, b, Seq((1L, "b1")).toDF("id", "tag"))
    assert(PublishSet.publish(spark, reg, Map(a -> 1L, b -> 1L)) === 1L)
    assert(PublishSet.resolve(spark, reg) === Map(a -> 1L, b -> 1L))
    assert(VersionedTable.readVersion(spark, a, PublishSet.resolve(spark, reg)(a))
      .select("tag").as[String].collect().toSeq === Seq("a1"))
    // member A advances WITHOUT a new release: the registry keeps
    // serving v1 — a release reader must never see the unpublished v2
    VersionedTable.write(spark, a, Seq((1L, "a2")).toDF("id", "tag"))
    assert(VersionedTable.currentVersion(spark, a) === Some(2L))
    assert(PublishSet.resolve(spark, reg) === Map(a -> 1L, b -> 1L))
    assert(VersionedTable.readVersion(spark, a, PublishSet.resolve(spark, reg)(a))
      .select("tag").as[String].collect().toSeq === Seq("a1"))
  }

  test("torn-read attempt: no resolvable instant mixes two releases") {
    val d = tmp()
    val (a, b, reg) = (s"$d/A", s"$d/B", s"$d/_REL")
    VersionedTable.write(spark, a, Seq((1L, "a1")).toDF("id", "tag"))
    VersionedTable.write(spark, b, Seq((1L, "b1")).toDF("id", "tag"))
    PublishSet.publish(spark, reg, Map(a -> 1L, b -> 1L))
    // the torn window a naive per-table reader is exposed to: A's new
    // version committed, B's not yet. Probe the registry AT EVERY STEP
    // of the next run's member commits — each resolve must return one
    // of the two complete releases, never {A:2, B:1}.
    def snap(): Map[String, Long] = PublishSet.resolve(spark, reg)
    val old = Map(a -> 1L, b -> 1L)
    VersionedTable.write(spark, a, Seq((1L, "a2")).toDF("id", "tag"))
    assert(snap() === old, "A committed, set unpublished: still the old release")
    VersionedTable.write(spark, b, Seq((1L, "b2")).toDF("id", "tag"))
    assert(snap() === old, "both committed, set unpublished: still the old release")
    // a reader that resolved BEFORE the publish keeps a consistent
    // old-release view across the publish (manifests are immutable)
    val preResolved = snap()
    PublishSet.publish(spark, reg, Map(a -> 2L, b -> 2L))
    assert(snap() === Map(a -> 2L, b -> 2L), "after publish: the new release, whole")
    assert(VersionedTable.readVersion(spark, a, preResolved(a))
      .select("tag").as[String].collect().toSeq === Seq("a1"))
    assert(VersionedTable.readVersion(spark, b, preResolved(b))
      .select("tag").as[String].collect().toSeq === Seq("b1"))
    // every historical release is itself complete — there is no
    // registry version anywhere whose set mixes the two runs
    val allSets = PublishSet.versions(spark, reg)
      .map(v => PublishSet.resolveVersion(spark, reg, v))
    assert(allSets === Seq(Map(a -> 1L, b -> 1L), Map(a -> 2L, b -> 2L)))
  }

  test("rollback restores the whole set in one commit; history stays inspectable") {
    val d = tmp()
    val (a, b, reg) = (s"$d/A", s"$d/B", s"$d/_REL")
    VersionedTable.write(spark, a, Seq((1L, "a1")).toDF("id", "tag"))
    VersionedTable.write(spark, b, Seq((1L, "b1")).toDF("id", "tag"))
    PublishSet.publish(spark, reg, Map(a -> 1L, b -> 1L))
    VersionedTable.write(spark, a, Seq((1L, "a2")).toDF("id", "tag"))
    VersionedTable.write(spark, b, Seq((1L, "b2")).toDF("id", "tag"))
    PublishSet.publish(spark, reg, Map(a -> 2L, b -> 2L))
    val v = PublishSet.rollback(spark, reg, to = 1L)
    assert(v === 3L, "rollback is a NEW registry version, not history rewrite")
    assert(PublishSet.resolve(spark, reg) === Map(a -> 1L, b -> 1L))
    assert(VersionedTable.readVersion(spark, a, PublishSet.resolve(spark, reg)(a))
      .select("tag").as[String].collect().toSeq === Seq("a1"))
    // the rolled-back release is still resolvable for inspection
    assert(PublishSet.resolveVersion(spark, reg, 2L) === Map(a -> 2L, b -> 2L))
  }

  test("publish refuses a set naming an uncommitted or pruned member version") {
    val d = tmp()
    val (a, reg) = (s"$d/A", s"$d/_REL")
    VersionedTable.write(spark, a, Seq((1L, "a1")).toDF("id", "tag"))
    intercept[IllegalArgumentException] {
      PublishSet.publish(spark, reg, Map(a -> 7L))
    }
    // retention coupling: a version the member table has PRUNED cannot
    // enter a release (the reader of that release would be out of
    // contract on day one)
    VersionedTable.write(spark, a, Seq((2L, "a2")).toDF("id", "tag"))
    VersionedTable.write(spark, a, Seq((3L, "a3")).toDF("id", "tag"))
    VersionedTable.prune(spark, a, keep = 1)
    intercept[IllegalArgumentException] {
      PublishSet.publish(spark, reg, Map(a -> 1L))
    }
    assert(PublishSet.publish(spark, reg, Map(a -> 3L)) === 1L)
    intercept[IllegalArgumentException] {
      PublishSet.publish(spark, reg, Map.empty[String, Long])
    }
    // hostile root strings round-trip through the URL encoding
    val weird = s"$d/A table=with spaces&chars"
    VersionedTable.write(spark, weird, Seq((1L, "w")).toDF("id", "tag"))
    PublishSet.publish(spark, reg, Map(a -> 3L, weird -> 1L))
    assert(PublishSet.resolve(spark, reg) === Map(a -> 3L, weird -> 1L))
  }

  test("registry prune bounds retention without touching member tables") {
    val d = tmp()
    val (a, reg) = (s"$d/A", s"$d/_REL")
    (1 to 4).foreach { i =>
      VersionedTable.write(spark, a, Seq((i.toLong, s"a$i")).toDF("id", "tag"))
      PublishSet.publish(spark, reg, Map(a -> i.toLong))
    }
    PublishSet.prune(spark, reg, keep = 2)
    assert(PublishSet.versions(spark, reg) === Seq(3L, 4L))
    intercept[IllegalArgumentException] {
      PublishSet.resolveVersion(spark, reg, 1L)
    }
    // member table untouched by registry prune
    assert(VersionedTable.versions(spark, a) === Seq(1L, 2L, 3L, 4L))
    assert(PublishSet.resolve(spark, reg) === Map(a -> 4L))
  }

  test("pruneMembers: retention floors derive from retained releases; every retained release stays fully readable") {
    val d = tmp()
    val (a, b, c, reg) = (s"$d/A", s"$d/B", s"$d/C", s"$d/_REL")
    // A advances to v4, B to v2; releases pin (A1,B1) then (A3,B2).
    (1 to 4).foreach(i =>
      VersionedTable.write(spark, a, Seq((i.toLong, s"a$i")).toDF("id", "tag")))
    (1 to 2).foreach(i =>
      VersionedTable.write(spark, b, Seq((i.toLong, s"b$i")).toDF("id", "tag")))
    // C is versioned but never published — GC must not touch it
    (1 to 3).foreach(i =>
      VersionedTable.write(spark, c, Seq((i.toLong, s"c$i")).toDF("id", "tag")))
    PublishSet.publish(spark, reg, Map(a -> 1L, b -> 1L))
    PublishSet.publish(spark, reg, Map(a -> 3L, b -> 2L))
    // both releases retained: floors are the OLDEST pins (A1, B1), so
    // nothing a release references is prunable even at memberKeep=1
    val floors1 = PublishSet.pruneMembers(spark, reg, memberKeep = 1)
    assert(floors1 === Map(a -> 1L, b -> 1L), floors1.toString)
    assert(VersionedTable.versions(spark, a) === Seq(1L, 2L, 3L, 4L))
    assert(VersionedTable.versions(spark, b) === Seq(1L, 2L))
    assert(VersionedTable.versions(spark, c) === Seq(1L, 2L, 3L))
    // expire release 1, then GC: floors move to release 2's pins (A3,
    // B2) — A v1/v2 go (v4 = current stays via memberKeep), B keeps v2.
    // The dry-run plan names exactly what the sweep then deletes, and
    // planning deletes nothing.
    PublishSet.prune(spark, reg, keep = 1)
    val plan = PublishSet.pruneMembersPlan(spark, reg, memberKeep = 1)
    assert(plan === Map(a -> Seq(1L, 2L), b -> Seq(1L)), plan.toString)
    assert(VersionedTable.versions(spark, a) === Seq(1L, 2L, 3L, 4L),
      "a dry run must not delete")
    val floors2 = PublishSet.pruneMembers(spark, reg, memberKeep = 1)
    assert(floors2 === Map(a -> 3L, b -> 2L), floors2.toString)
    assert(VersionedTable.versions(spark, a) === Seq(3L, 4L))
    assert(VersionedTable.versions(spark, b) === Seq(2L))
    assert(VersionedTable.versions(spark, c) === Seq(1L, 2L, 3L),
      "an unreferenced table is outside the registry's GC contract")
    // the retained-release reader contract: every member of every
    // retained release reads; the expired release's exclusive version
    // is gone
    PublishSet.versions(spark, reg).foreach { v =>
      PublishSet.resolveVersion(spark, reg, v).foreach { case (t, mv) =>
        assert(VersionedTable.readVersion(spark, t, mv).count() > 0)
      }
    }
    intercept[IllegalArgumentException] {
      VersionedTable.readVersion(spark, a, 1L)
    }
    // a registry pinning a table that vanished is a loud error
    val reg2 = s"$d/_REL2"
    PublishSet.publish(spark, reg2, Map(a -> 4L))
    org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(a), true)
    intercept[IllegalArgumentException] {
      PublishSet.pruneMembers(spark, reg2)
    }
  }

  test("gc fence (r15): while a gc-intent is the current release, below-floor pins are refused and fresh pins pass") {
    val d = tmp()
    val (a, reg) = (s"$d/A", s"$d/_REL")
    (1 to 3).foreach(i =>
      VersionedTable.write(spark, a, Seq((i.toLong, s"a$i")).toDF("id", "tag")))
    PublishSet.publish(spark, reg, Map(a -> 2L))
    PublishSet.prune(spark, reg, keep = 1)
    // the crashed-sweep state: a gc-intent marker is the current
    // release (pruneMembers commits exactly this through the same
    // note mechanism before deriving floors)
    PublishSet.publish(spark, reg, Map(a -> 2L), note = Some("gc-intent"))
    // retention floor for A is 2: pinning v1 races the (possibly
    // still-deleting) sweep and must be refused loudly
    val ex = intercept[IllegalArgumentException] {
      PublishSet.publish(spark, reg, Map(a -> 1L))
    }
    assert(ex.getMessage.contains("races an in-flight member GC"),
      ex.getMessage)
    // at/above the floor passes — fresh commits and retained-release
    // pins are never blocked by an open window
    PublishSet.publish(spark, reg, Map(a -> 3L))
    // an interleaved fresh-pin publish must NOT unlatch the fence
    // while the window is open (review r15): the below-floor pin is
    // still refused
    intercept[IllegalArgumentException] {
      PublishSet.publish(spark, reg, Map(a -> 1L))
    }
    // only the closing gc-done ends the window: old pins work again,
    // and their manifests still exist
    PublishSet.publish(spark, reg, Map(a -> 3L), note = Some("gc-done"))
    PublishSet.publish(spark, reg, Map(a -> 1L))
    assert(PublishSet.resolve(spark, reg) === Map(a -> 1L))
  }

  test("gc sweep closes its window even when the sweep fails; a full sweep leaves gc-done current") {
    val d = tmp()
    val (a, reg) = (s"$d/A", s"$d/_REL")
    VersionedTable.write(spark, a, Seq((1L, "a1")).toDF("id", "tag"))
    PublishSet.publish(spark, reg, Map(a -> 1L))
    PublishSet.pruneMembers(spark, reg, memberKeep = 1)
    val cur = PublishSet.currentVersion(spark, reg).get
    assert(PublishSet.note(spark, reg, cur) === Some("gc-done"))
    assert(PublishSet.note(spark, reg, cur - 1) === Some("gc-intent"))
    assert(PublishSet.resolveVersion(spark, reg, cur) === Map(a -> 1L),
      "markers re-pin the current set verbatim")
    // failing sweep (pinned table deleted): intent+done still bracket
    org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(a), true)
    intercept[IllegalArgumentException] {
      PublishSet.pruneMembers(spark, reg)
    }
    val cur2 = PublishSet.currentVersion(spark, reg).get
    assert(PublishSet.note(spark, reg, cur2) === Some("gc-done"),
      "a failed sweep must not leave the fence latched")
  }

  test("epoch cursor sidecar (r15): monotone advance, prune-proof, loud malformed parse") {
    val d = tmp()
    val reg = s"$d/_REL"
    assert(PublishSet.readEpochCursor(spark, reg) === None)
    PublishSet.advanceEpochCursor(spark, reg, 3L, 10L)
    assert(PublishSet.readEpochCursor(spark, reg) === Some((3L, 10L)))
    PublishSet.advanceEpochCursor(spark, reg, 2L, 99L) // stale: no-op
    assert(PublishSet.readEpochCursor(spark, reg) === Some((3L, 10L)))
    PublishSet.advanceEpochCursor(spark, reg, 4L, 12L)
    assert(PublishSet.readEpochCursor(spark, reg) === Some((4L, 12L)))
    // corruption is a loud error, never parsed-as-absent (a silently
    // reset cursor re-opens the replay hole the sidecar closes)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$reg/_epoch_cursor"),
      "garbage".getBytes("UTF-8"))
    intercept[IllegalStateException] {
      PublishSet.readEpochCursor(spark, reg)
    }
  }

  test("prune alsoRetainFrom: the floor holds versions beyond keep, and stays a contiguous suffix") {
    val d = tmp()
    val a = s"$d/A"
    (1 to 5).foreach(i =>
      VersionedTable.write(spark, a, Seq((i.toLong, s"a$i")).toDF("id", "tag")))
    // keep=1 alone would leave only v5; the floor holds v2..v5
    VersionedTable.prune(spark, a, keep = 1, alsoRetainFrom = Some(2L))
    assert(VersionedTable.versions(spark, a) === Seq(2L, 3L, 4L, 5L))
    // a floor ABOVE current degenerates to plain keep semantics
    VersionedTable.prune(spark, a, keep = 2, alsoRetainFrom = Some(99L))
    assert(VersionedTable.versions(spark, a) === Seq(4L, 5L))
  }

  test("curation release: members publish together, roll back together") {
    import graft.models.CurationModels
    import graft.pipeline.Pipeline.{RunConfig, Core}
    val wh = tmp()
    val cfg = RunConfig(env = Core, warehouseRoot = wh)
    val docs = (0L until 40L).map(i =>
      (i, s"doc $i body token$i filler words enough to chunk and pack end",
        if (i % 2 == 0) "en" else "de", s"host${i % 4}.example"))
      .toDF("doc_id", "text", "lang", "source")
    val bench = Seq((9000L, "benchmark only text never overlapping"))
      .toDF("doc_id", "text")
    val reg = CurationModels.registry(spark, docs, bench)
    // the versioned members a downstream consumer must see move in
    // lockstep, and the registry next to them
    def root(name: String) = graft.pipeline.Pipeline.materializationPath(
      cfg, "3_MART___CURATION", name)
    val members = Seq("DATA_CARD", "RAG_CHUNKS", "RAG_CODEBOOK",
      "RAG_CHUNK_INDEX").map(root)
    val release = root("_RELEASE")
    def publishCurrent() = PublishSet.publish(spark, release, members.map(m =>
      m -> VersionedTable.currentVersion(spark, m).get).toMap)
    def readCard() = VersionedTable.readVersion(spark, root("DATA_CARD"),
      PublishSet.resolve(spark, release)(root("DATA_CARD"))).collect()
    reg.run(cfg, Seq("DATA_CARD", "RAG_CHUNK_INDEX"))
    assert(publishCurrent() === 1L)
    val card1 = readCard()
    // second run advances every member; release 2 names them together
    reg.run(cfg, Seq("DATA_CARD", "RAG_CHUNK_INDEX"))
    assert(publishCurrent() === 2L)
    val set2 = PublishSet.resolve(spark, release)
    assert(set2.values.toSet === Set(2L),
      s"all members pinned at their run-2 versions, got $set2")
    // one-commit rollback of the WHOLE release
    PublishSet.rollback(spark, release, to = 1L)
    val set1 = PublishSet.resolve(spark, release)
    assert(set1.values.toSet === Set(1L), s"rolled back whole, got $set1")
    assert(readCard().toSeq === card1.toSeq)
  }
}
