package graft.tools

/** Child-JVM release publisher for the cross-process publish/GC
  * ClusterSmoke shape (VERDICT r14 next-#4): hammers the registry with
  * `n` member-commit-then-publish cycles (every 7th release a rollback
  * to a retained prior release — the old-pin path the GC fence must
  * allow, since retained-release pins are ≥ every retention floor by
  * derivation) while the PARENT process sweeps
  * [[graft.pipeline.PublishSet.prune]] +
  * [[graft.pipeline.PublishSet.pruneMembers]] against it.
  *
  * Exit contract: 0 iff every publish succeeded — the fence must never
  * fire on fresh or retained pins, and the post-CAS re-validation must
  * never find a pinned manifest missing (zero lost releases). Any
  * throw exits nonzero and fails the shape. */
object ReleasePublisherMain {

  def launch(reg: String, memberA: String, memberB: String,
             n: Int, paceMs: Int = 15,
             partitioned: Boolean = false): Process =
    VersionedWriterMain.launchJvm("graft.tools.ReleasePublisherMain",
      Seq(reg, memberA, memberB, n.toString, paceMs.toString,
        partitioned.toString))

  def main(args: Array[String]): Unit = {
    // 4-arg legacy form = hammering defaults; the PACED compaction
    // shape passes (paceMs, partitioned) explicitly
    val (reg, memberA, memberB, n, paceMs, partitioned) = args match {
      case Array(r, a, b, nn) => (r, a, b, nn, 15, false)
      case Array(r, a, b, nn, p, pt) => (r, a, b, nn, p.toInt, pt.toBoolean)
      case other => throw new IllegalArgumentException(
        s"usage: ReleasePublisherMain <reg> <memberA> <memberB> <n> " +
          s"[paceMs partitioned], got ${other.mkString(" ")}")
    }
    val spark = graft.GraftSession(2, "release-publisher")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    import graft.pipeline.{PublishSet, VersionedTable}
    try {
      var published = 0
      var rollbacksSkipped = 0
      (1 to n.toInt).foreach { i =>
        if (i % 7 == 0 && PublishSet.versions(spark, reg).size >= 4) {
          // rollback to an OLD retained release — the old-pin publish
          // path. Two rejections are DESIGNED behavior under the
          // sweeping parent, not losses: the target release can be
          // pruned between read and resolve, and the GC fence refuses
          // a pin that fell below the floors after a registry prune.
          // Both fail loudly at publish time (the contract); the
          // hammer tolerates them on THIS path only. Fresh-pin
          // publishes below must never fail.
          val to = PublishSet.versions(spark, reg).takeRight(4).head
          try PublishSet.rollback(spark, reg, to)
          catch {
            case e: Exception =>
              rollbacksSkipped += 1
              println(s"[release-publisher] rollback to v$to rejected " +
                s"(designed GC-race behavior): ${e.getMessage.take(100)}")
              // the post-CAS detection means the torn rollback COMMIT
              // landed before the miss was seen — perform the error
              // message's own remediation (re-publish the prior good
              // set) so readers never keep resolving a torn current
              if (e.getMessage != null &&
                  e.getMessage.contains("the release is torn")) {
                val cur = PublishSet.currentVersion(spark, reg).get
                PublishSet.rollback(spark, reg, cur - 1)
                println(s"[release-publisher] healed torn v$cur by " +
                  s"republishing v${cur - 1}'s set")
              }
          }
        } else {
          // partitioned mode (the paced compaction shape): every merge
          // restages both __pp_p buckets from a 3-way-repartitioned
          // increment, so each release re-FRAGMENTS the buckets the
          // cron's --compact-max-files pass must then shrink
          def inc(px: String): org.apache.spark.sql.DataFrame =
            if (partitioned)
              Seq(("p0", s"$px$i", i.toLong), ("p1", s"$px$i", i.toLong))
                .toDF("p", "k", "seq").repartition(3)
            else Seq((s"$px$i", i.toLong)).toDF("k", "seq")
          val key = if (partitioned) Seq("p", "k") else Seq("k")
          val pby = if (partitioned) Seq("p") else Nil
          val vA = VersionedTable.merge(spark, memberA, inc("a"),
            uniqueKey = key, partitionBy = pby)
          val vB = VersionedTable.merge(spark, memberB, inc("b"),
            uniqueKey = key, partitionBy = pby)
          PublishSet.publish(spark, reg,
            Map(memberA -> vA, memberB -> vB),
            note = Some(s"epoch $i rows $i"))
        }
        published += 1
        Thread.sleep(paceMs.toLong) // pace: leave CAS room for sweepers
      }
      println(s"[release-publisher] ok published=$published " +
        s"rollbacksSkipped=$rollbacksSkipped")
    } finally spark.stop()
  }
}
