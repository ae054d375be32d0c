package graft

import graft.operators.Dedup
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** Streaming cosine link: crawl drops micro-batched through the d26
  * frozen-state tick must accumulate EXACTLY the pairs the static
  * all-pairs join finds on everything ever seen (minus the reference's
  * own internal pairs — the state is pre-curated by contract), even
  * though every tick blocks under the order frozen from the reference
  * alone. */
class StreamingCosineLinkSpec extends SparkSpec {
  import spark.implicits._

  private val ref = Seq(
    (1L, "a b c d e"),
    (2L, "a b c x y"),
    (3L, "p q r s t"))
  // drop 1: cross pairs into both ref clusters + no internal pair
  private val drop1 = Seq(
    (10L, "a b c d f"),
    (11L, "p q r s u"))
  // drop 2: an exact dup of ref 1 (also pairs with drop-1's 10) + a
  // fresh internal-only pair on vocabulary the frozen order never saw
  private val drop2 = Seq(
    (20L, "a b c d e"),
    (21L, "z1 z2 z3 z4 z5"),
    (22L, "z1 z2 z3 z4 w"))

  private type P = (Long, Long, Long, Long, Long, Long)
  private def rel(df: org.apache.spark.sql.DataFrame): Set[P] =
    df.select("id1", "id2", "n1", "n2", "n_shared", "cos_nano")
      .as[P].collect().toSet

  /** Drops 1 and 2 drained as batch ids 0 and 1 into a fresh state:
    * (landing dir, statePath, pairsPath), shared by both tests. */
  private lazy val drained = {
    val root = Files.createTempDirectory("graft-stream-cosine")
    val in = root.resolve("in"); Files.createDirectory(in)
    drop1.toDF("doc_id", "text").coalesce(1)
      .write.parquet(in.resolve("d1").toString)
    drop2.toDF("doc_id", "text").coalesce(1)
      .write.parquet(in.resolve("d2").toString)
    val statePath = root.resolve("state").toString
    val pairsPath = root.resolve("pairs").toString

    EventStreams.initCosineLinkState(spark, ref.toDF("doc_id", "text"),
      "text", "doc_id", shingleN = 1, tauNum = 3, tauDen = 5, statePath)
    drain(in, statePath, pairsPath)
    (in, statePath, pairsPath)
  }

  private def drain(in: java.nio.file.Path, statePath: String,
                    pairsPath: String): Unit = {
    val schema = drop1.toDF("doc_id", "text").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(in.toString + "/*")
    EventStreams.cosineLinkStreamQuery(spark, stream, "text", "doc_id",
        shingleN = 1, tauNum = 3, tauDen = 5, statePath, pairsPath,
        Trigger.AvailableNow())
      .awaitTermination()
  }

  test("streamed drops accumulate the static all-pairs relation on everything seen") {
    val (_, statePath, pairsPath) = drained
    val streamed = rel(spark.read.parquet(pairsPath))
    val all = (ref ++ drop1 ++ drop2).toDF("doc_id", "text")
    val expect = rel(Dedup.allPairsCosine(all, "text", "doc_id", 1, 3, 5)) --
      rel(Dedup.allPairsCosine(ref.toDF("doc_id", "text"), "text",
        "doc_id", 1, 3, 5))
    assert(streamed == expect,
      s"streamed ${streamed.toSeq.sorted} vs static ${expect.toSeq.sorted}")
    // the shapes that make the invariant non-trivial all occurred:
    // cross into state, cross into an EARLIER DROP, an exact dup, and
    // an internal pair on frozen-order-unseen vocabulary
    assert(streamed.exists(p => p._1 == 1L && p._2 == 10L))
    assert(streamed.exists(p => p._1 == 10L && p._2 == 20L))
    assert(streamed.exists(p => p._1 == 1L && p._2 == 20L &&
      p._6 == 1000000000L))
    assert(streamed.exists(p => p._1 == 21L && p._2 == 22L))
    // state accreted: drop docs joined the base with their tick id
    val base = spark.read.parquet(s"${statePath}_base")
    assert(base.count() == (ref ++ drop1 ++ drop2).size)
    assert(base.filter(col("last_batch") >= 0L).count() ==
      (drop1 ++ drop2).size)
  }

  test("a checkpoint reset fails loudly and leaves the state unchanged") {
    val (in, statePath, pairsPath) = drained
    def tables = Seq(s"${statePath}_base", pairsPath)
      .map(p => spark.read.parquet(p).collect().map(_.toString).sorted.toSeq)
    val before = tables
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$statePath.__checkpoint"))
    Seq((30L, "a b c d g")).toDF("doc_id", "text").coalesce(1)
      .write.parquet(in.resolve("d3").toString)
    // batch ids restart at 0 below `_base`'s last_batch 1
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(in, statePath, pairsPath)
    }
    assert(ex.toString.contains("checkpoint was reset"), ex.toString)
    assert(tables == before, "a reset must fold nothing")
  }
}
