package graft.tools

import graft.pipeline.{PublishSet, VersionedTable}
import org.apache.spark.sql.SparkSession

/** STANDALONE MAINTENANCE CRON for a release registry (the r14
  * candidate list's "standalone cron form with dry-run reporting"):
  * one entrypoint an operator schedules against a registry root,
  * composing the three maintenance ops the streaming tick can run
  * inline — member small-file compaction (cold-bucket cadence),
  * registry release pruning, and the cross-process-fenced member GC
  * ([[PublishSet.pruneMembers]]) — with a `--dry-run` mode that
  * reports every action the run WOULD take and deletes nothing.
  *
  * Safe against live publishers by construction: compaction and prune
  * are versioned ops (readers keep their pinned files), and the member
  * sweep routes its window through the registry CAS gc-intent/gc-done
  * protocol, so a cron GcMain and a streaming release tick in two JVMs
  * compose without coordination beyond the registry itself.
  *
  * Order of operations (execute mode): compact members FIRST (the new
  * compacted version is the one worth retaining; the old fragmented
  * current then ages out through the same sweep), then prune registry
  * releases, then sweep member versions under the fence. The dry-run
  * plan is derived from the CURRENT state — a concurrent publisher can
  * change what the next execute run acts on; the fenced sweep, not the
  * plan, is authoritative.
  *
  * At 100 TB: everything here is manifest metadata work plus the
  * bounded rewrites/deletes the plans name — the cost tracks the
  * garbage, never the tables. */
object GcMain {

  /** One member's slice of the run. `wouldExpire` / `fragBuckets` are
    * the plans (derived pre-mutation in both modes); `hotBuckets` are
    * fragmented buckets WITHHELD by the cold gate and
    * `unpartitionedFiles` is the file count of a fragmented
    * unpartitioned member (both are fragmentation the run will NOT
    * touch — a maintenance report that hides withheld work would let
    * read amplification grow invisibly); `compactedTo` is the
    * committed compaction version (execute mode, only when a commit
    * actually landed). */
  case class MemberReport(root: String, wouldExpire: Seq[Long],
                          fragBuckets: Map[String, Int],
                          hotBuckets: Map[String, Int],
                          unpartitionedFiles: Option[Int],
                          compactedTo: Option[Long])

  case class Report(registryRoot: String, registryWouldExpire: Seq[Long],
                    members: Seq[MemberReport], dryRun: Boolean)

  /** The run, exposed for the spec (main() is parse + print). */
  def run(spark: SparkSession, registryRoot: String,
          keepReleases: Int = 5, memberKeep: Int = 1,
          staleAfterMs: Long = 3600 * 1000L,
          compactMaxFiles: Option[Int] = None,
          compactColdVersions: Int = 0,
          dryRun: Boolean = false): Report = {
    require(keepReleases >= 1, "must retain at least the current release")
    val regVs = PublishSet.versions(spark, registryRoot)
    require(regVs.nonEmpty, s"no release registry at $registryRoot")
    val regExpire = regVs.dropRight(keepReleases)
    // member plan AS IF the registry prune below already ran — the
    // floors the fenced sweep will actually derive
    val memberPlan = PublishSet.pruneMembersPlan(spark, registryRoot,
      memberKeep, asIfKeepReleases = Some(keepReleases))
    val members = memberPlan.toSeq.sortBy(_._1).map { case (root, expire) =>
      // one manifest read per member: the plan, the cold-gate-withheld
      // buckets, and the layout together (compactionReport)
      val cr = compactMaxFiles.map(maxF =>
        VersionedTable.compactionReport(spark, root, maxF,
          compactColdVersions))
      val frag = cr.fold(Map.empty[String, Int])(_.wouldCompact)
      val hot = cr.fold(Map.empty[String, Int])(_.withheldHot)
      // compaction is bucket-scoped: a fragmented UNPARTITIONED member
      // has no bucket boundary, so it is surfaced in the report but
      // never full-rewritten behind a cron's back (that is compact()'s
      // operator decision)
      val unpart = cr.collect {
        case r if r.layout.isEmpty &&
            r.totalFiles > compactMaxFiles.get => r.totalFiles
      }
      val compacted =
        if (dryRun || frag.isEmpty) None
        else {
          // the op re-derives its selection under the root lock; a
          // concurrent maintainer can have emptied it, in which case
          // no version is committed and the report must not claim one
          val before = VersionedTable.currentVersion(spark, root).get
          val v = VersionedTable.compactPartitions(spark, root,
            compactMaxFiles.get, compactColdVersions)
          if (v > before) Some(v) else None
        }
      MemberReport(root, expire, frag, hot, unpart, compacted)
    }
    if (!dryRun) {
      PublishSet.prune(spark, registryRoot, keepReleases)
      PublishSet.pruneMembers(spark, registryRoot, memberKeep, staleAfterMs)
    }
    Report(registryRoot, regExpire, members, dryRun)
  }

  def main(args: Array[String]): Unit = {
    var registry: Option[String] = None
    var keep = 5
    var memberKeep = 1
    var staleMs = 3600 * 1000L
    var compactMaxFiles: Option[Int] = None
    var compactCold = 0
    var dryRun = false
    var i = 0
    def value(): String = {
      require(i + 1 < args.length,
        s"flag ${args(i)} needs a value")
      args(i + 1)
    }
    while (i < args.length) {
      args(i) match {
        case "--keep"              => keep = value().toInt; i += 2
        case "--member-keep"       => memberKeep = value().toInt; i += 2
        case "--stale-ms"          => staleMs = value().toLong; i += 2
        case "--compact-max-files" =>
          compactMaxFiles = Some(value().toInt); i += 2
        case "--compact-cold"      => compactCold = value().toInt; i += 2
        case "--dry-run"           => dryRun = true; i += 1
        case flag if flag.startsWith("--") =>
          throw new IllegalArgumentException(s"unknown flag $flag")
        case root =>
          require(registry.isEmpty, s"two registry roots: $registry, $root")
          registry = Some(root); i += 1
      }
    }
    val reg = registry.getOrElse(throw new IllegalArgumentException(
      "usage: GcMain <registryRoot> [--keep N] [--member-keep N] " +
        "[--stale-ms N] [--compact-max-files N] [--compact-cold N] " +
        "[--dry-run]"))
    val spark = graft.GraftSession(4, "graft-gc",
      sys.env.get("SPARK_GRAFT_MASTER"))
    try {
      val r = run(spark, reg, keep, memberKeep, staleMs, compactMaxFiles,
        compactCold, dryRun)
      println(s"[gc] registry $reg: expire releases " +
        s"${r.registryWouldExpire.mkString("[", ",", "]")} (keep $keep)")
      r.members.foreach { m =>
        def bs(buckets: Map[String, Int]): String =
          if (buckets.isEmpty) "none"
          else buckets.toSeq.sortBy(_._1)
            .map { case (b, n) => s"$b($n files)" }.mkString(", ")
        println(s"[gc] member ${m.root}: expire versions " +
          s"${m.wouldExpire.mkString("[", ",", "]")} " +
          s"compact-buckets: ${bs(m.fragBuckets)}" +
          (if (m.hotBuckets.isEmpty) ""
           else s" withheld-hot: ${bs(m.hotBuckets)}") +
          m.unpartitionedFiles.fold("")(n =>
            s" fragmented-unpartitioned: $n files (needs compact())") +
          m.compactedTo.fold("")(v => s" -> compacted as v$v"))
      }
      if (dryRun) println("[gc] DRY RUN - nothing was deleted or rewritten")
      else println("[gc] done")
    } finally spark.stop()
  }
}
