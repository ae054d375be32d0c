package graft

import graft.pipeline.{PublishSet, VersionedTable}
import graft.tools.GcMain
import org.apache.spark.sql.functions._

/** [[GcMain]] — the standalone maintenance cron. Dry run must report
  * every action and mutate NOTHING; execute must compact fragmented
  * member buckets (cold-gated), prune the registry, and sweep member
  * versions under the same fenced derivation the inline tick uses —
  * with every retained release still fully readable afterwards. */
class GcMainSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-gc").toString

  /** Registry over a partitioned member A (bucket p0 fragmented by two
    * 8-task merges) and a plain member B, with one superseded release
    * so old member versions sit below the retention floor. */
  private def scenario(): (String, String, String) = {
    val d = tmp()
    val (a, b, reg) = (s"$d/A", s"$d/B", s"$d/_REL")
    VersionedTable.merge(spark, a,
      (1L to 40L).map(i => ("p0", i, i)).toDF("p", "id", "x")
        .repartition(8),
      uniqueKey = Seq("p", "id"), partitionBy = Seq("p"))
    VersionedTable.write(spark, b, Seq((1L, "b1")).toDF("id", "tag"))
    PublishSet.publish(spark, reg, Map(a -> 1L, b -> 1L))
    VersionedTable.merge(spark, a,
      (41L to 80L).map(i => ("p0", i, i)).toDF("p", "id", "x")
        .repartition(8),
      uniqueKey = Seq("p", "id"), partitionBy = Seq("p"))
    VersionedTable.write(spark, b, Seq((1L, "b2")).toDF("id", "tag"))
    PublishSet.publish(spark, reg, Map(a -> 2L, b -> 2L))
    (a, b, reg)
  }

  test("dry run: full plan reported, nothing deleted or rewritten") {
    val (a, b, reg) = scenario()
    val aFilesBefore = VersionedTable.manifestFiles(spark, a, 2L)
    val r = GcMain.run(spark, reg, keepReleases = 1, memberKeep = 1,
      compactMaxFiles = Some(2), dryRun = true)
    assert(r.dryRun)
    // release 1 expires under keep=1; its member pins (A v1, B v1)
    // fall below the floor and are planned for expiry
    assert(r.registryWouldExpire === Seq(1L))
    val byRoot = r.members.map(m => m.root -> m).toMap
    assert(byRoot(a).wouldExpire === Seq(1L))
    assert(byRoot(b).wouldExpire === Seq(1L))
    // A's p0 bucket is fragmented past 2 files; B is unpartitioned ->
    // reported with no compaction plan, not full-rewritten
    assert(byRoot(a).fragBuckets.keys.exists(_.contains("p=p0")))
    assert(byRoot(a).fragBuckets.values.forall(_ > 2))
    assert(byRoot(b).fragBuckets.isEmpty)
    assert(r.members.forall(_.compactedTo.isEmpty))
    // NOTHING moved: versions, manifests, registry all as before
    assert(VersionedTable.versions(spark, a) === Seq(1L, 2L))
    assert(VersionedTable.versions(spark, b) === Seq(1L, 2L))
    assert(VersionedTable.manifestFiles(spark, a, 2L) === aFilesBefore)
    assert(PublishSet.versions(spark, reg) === Seq(1L, 2L))
  }

  test("execute: compacts cold fragmented buckets, prunes registry + members, releases stay readable") {
    val (a, b, reg) = scenario()
    val r = GcMain.run(spark, reg, keepReleases = 1, memberKeep = 1,
      compactMaxFiles = Some(2), dryRun = false)
    assert(!r.dryRun)
    val byRoot = r.members.map(m => m.root -> m).toMap
    // A compacted: a new version committed, p0 down to one file
    val av = byRoot(a).compactedTo.get
    assert(VersionedTable.manifestFiles(spark, a, av)
      .count(_.contains("p=p0")) === 1)
    assert(byRoot(b).compactedTo.isEmpty)
    // member sweep: v1 gone on both members; the plan was faithful
    // (compaction adds a >=-floor version, so keepN grows with it)
    assert(!VersionedTable.versions(spark, a).contains(1L))
    assert(!VersionedTable.versions(spark, b).contains(1L))
    // the retained release resolves and reads whole (pins intact);
    // the sweep's gc markers repin the same set
    assert(PublishSet.resolve(spark, reg) === Map(a -> 2L, b -> 2L))
    assert(VersionedTable.readVersion(spark, a,
      PublishSet.resolve(spark, reg)(a)).count() === 80L)
    assert(VersionedTable.readVersion(spark, b,
      PublishSet.resolve(spark, reg)(b))
      .select("tag").as[String].collect().toSeq === Seq("b2"))
    // idempotent under the cadence: a second run finds nothing to
    // compact (p0 is one file) and nothing below the floors
    val r2 = GcMain.run(spark, reg, keepReleases = 1, memberKeep = 1,
      compactMaxFiles = Some(2), dryRun = false)
    assert(r2.members.forall(_.compactedTo.isEmpty))
  }

  test("hot fragmented bucket: withheld by --compact-cold, still surfaced in the report") {
    val (a, _, reg) = scenario()
    // A v2 just merged into p0 -> hot at coldAfterVersions=2
    val r = GcMain.run(spark, reg, keepReleases = 2, memberKeep = 1,
      compactMaxFiles = Some(2), compactColdVersions = 2, dryRun = false)
    val m = r.members.find(_.root == a).get
    assert(m.fragBuckets.isEmpty && m.compactedTo.isEmpty)
    // the withheld fragmentation is REPORTED (hidden withheld work
    // would let read amplification grow invisibly)
    assert(m.hotBuckets.keys.exists(_.contains("p=p0")))
    assert(m.hotBuckets.values.forall(_ > 2))
    assert(VersionedTable.manifestFiles(spark, a, 2L)
      .count(_.contains("p=p0")) > 2)
  }

  test("fragmented unpartitioned member is surfaced, never full-rewritten") {
    val d = tmp()
    val (b, reg) = (s"$d/B", s"$d/_REL")
    VersionedTable.write(spark, b,
      (1L to 40L).map(i => (i, i)).toDF("id", "x").repartition(8))
    PublishSet.publish(spark, reg, Map(b -> 1L))
    val r = GcMain.run(spark, reg, keepReleases = 1, memberKeep = 1,
      compactMaxFiles = Some(2), dryRun = true)
    val m = r.members.find(_.root == b).get
    assert(m.fragBuckets.isEmpty && m.compactedTo.isEmpty)
    assert(m.unpartitionedFiles.exists(_ > 2))
    // and an execute run leaves it alone too (compact() is an
    // operator decision, not cron default)
    GcMain.run(spark, reg, keepReleases = 1, memberKeep = 1,
      compactMaxFiles = Some(2), dryRun = false)
    assert(VersionedTable.versions(spark, b) === Seq(1L))
  }
}
