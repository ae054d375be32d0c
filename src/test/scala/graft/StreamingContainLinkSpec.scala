package graft

import graft.operators.Dedup
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** Streaming containment link: crawl drops micro-batched through the
  * d33 frozen-state tick must accumulate EXACTLY the pairs the static
  * all-pairs containment join finds on everything ever seen (minus the
  * reference's own internal pairs — the state is pre-curated by
  * contract), even though every tick blocks under the order frozen
  * from the reference alone and the family's candidate generation is
  * ASYMMETRIC (two role paths). */
class StreamingContainLinkSpec extends SparkSpec {
  import spark.implicits._

  private val ref = Seq(
    (1L, "a b c d e"),
    (2L, "p q r s"))
  // drop 1: the batch as the CONTAINED side (10 ⊂ ref 1) AND as the
  // CONTAINER (11 ⊃ ref 2) — both role paths must fire cross-state
  private val drop1 = Seq(
    (10L, "a b c"),
    (11L, "p q r s t u"))
  // drop 2: a partial containment into state, a full containment into
  // an EARLIER DROP through a set carrying frozen-unseen vocabulary,
  // and an internal pair entirely on unseen vocabulary
  private val drop2 = Seq(
    (20L, "a b c z9"),
    (21L, "z1 z2 z3 z4"),
    (22L, "z1 z2 z3"))

  private type P = (Long, Long, Long, Long, Long, Long)
  private def rel(df: org.apache.spark.sql.DataFrame): Set[P] =
    df.select("id1", "id2", "n1", "n2", "n_shared", "cont_nano")
      .as[P].collect().toSet

  /** Drops 1 and 2 drained as batch ids 0 and 1 into a fresh state:
    * (landing dir, statePath, pairsPath), shared by both tests. */
  private lazy val drained = {
    val root = Files.createTempDirectory("graft-stream-contain")
    val in = root.resolve("in"); Files.createDirectory(in)
    drop1.toDF("doc_id", "text").coalesce(1)
      .write.parquet(in.resolve("d1").toString)
    drop2.toDF("doc_id", "text").coalesce(1)
      .write.parquet(in.resolve("d2").toString)
    val statePath = root.resolve("state").toString
    val pairsPath = root.resolve("pairs").toString

    EventStreams.initContainLinkState(spark, ref.toDF("doc_id", "text"),
      "text", "doc_id", shingleN = 1, tauNum = 1, tauDen = 2, minN = 3,
      statePath)
    drain(in, statePath, pairsPath)
    (in, statePath, pairsPath)
  }

  private def drain(in: java.nio.file.Path, statePath: String,
                    pairsPath: String): Unit = {
    val schema = drop1.toDF("doc_id", "text").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(in.toString + "/*")
    EventStreams.containLinkStreamQuery(spark, stream, "text", "doc_id",
        shingleN = 1, tauNum = 1, tauDen = 2, minN = 3,
        statePath, pairsPath, Trigger.AvailableNow())
      .awaitTermination()
  }

  test("streamed drops accumulate the static containment relation on everything seen") {
    val (_, statePath, pairsPath) = drained
    val streamed = rel(spark.read.parquet(pairsPath))
    val all = (ref ++ drop1 ++ drop2).toDF("doc_id", "text")
    val expect =
      rel(Dedup.allPairsContainment(all, "text", "doc_id", 1, 1, 2, 3)) --
      rel(Dedup.allPairsContainment(ref.toDF("doc_id", "text"), "text",
        "doc_id", 1, 1, 2, 3))
    assert(streamed == expect,
      s"streamed ${streamed.toSeq.sorted} vs static ${expect.toSeq.sorted}")
    // the shapes that make the invariant non-trivial all occurred:
    // batch-as-contained into state, batch-as-CONTAINER over state,
    // cross into an EARLIER DROP via a frozen-unseen-carrying set, and
    // an internal pair on wholly unseen vocabulary
    assert(streamed.exists(p => p._1 == 10L && p._2 == 1L &&
      p._6 == 1000000000L))
    assert(streamed.exists(p => p._1 == 2L && p._2 == 11L &&
      p._6 == 1000000000L))
    assert(streamed.exists(p => p._1 == 10L && p._2 == 20L))
    assert(streamed.exists(p => p._1 == 22L && p._2 == 21L))
    // state accreted: drop docs joined the base with their tick ids,
    // and BOTH role-prefix relations grew
    val base = spark.read.parquet(s"${statePath}_base")
    assert(base.count() == (ref ++ drop1 ++ drop2).size)
    assert(base.filter(col("last_batch") >= 0L).count() ==
      (drop1 ++ drop2).size)
    assert(spark.read.parquet(s"${statePath}_small")
      .select("id").distinct().count() == 7L)
    assert(spark.read.parquet(s"${statePath}_big")
      .select("id").distinct().count() == 7L)
  }

  test("a checkpoint reset fails loudly and leaves the state unchanged") {
    val (in, statePath, pairsPath) = drained
    def tables = Seq(s"${statePath}_base", pairsPath)
      .map(p => spark.read.parquet(p).collect().map(_.toString).sorted.toSeq)
    val before = tables
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$statePath.__checkpoint"))
    Seq((30L, "a b c d e f")).toDF("doc_id", "text").coalesce(1)
      .write.parquet(in.resolve("d3").toString)
    // batch ids restart at 0 below `_base`'s last_batch 1
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(in, statePath, pairsPath)
    }
    assert(ex.toString.contains("checkpoint was reset"), ex.toString)
    assert(tables == before, "a reset must fold nothing")
  }
}
