package graft

import graft.operators.Dedup
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** Streaming delta near-dup pairing: documents sliced into micro-batches
  * through the foreachBatch delta pipeline must end in exactly the batch
  * rebuild's pair relation — pairs append-only with weights derived from
  * the final state's copy counts. */
class StreamingDeltaDedupSpec extends SparkSpec {
  import spark.implicits._

  private val near1 = "the quick brown fox jumps over the lazy dog again and again today"
  private val near2 = "the quick brown fox jumps over the lazy dog again and again tonight"
  private val near3 = "the quick brown fox jumps over the lazy dog again and again tomorrow"
  // drop 1: a near-dup pair + an exact copy + a singleton
  private val drop1 = Seq(
    (1L, near1), (2L, near2), (3L, near1),
    (4L, "completely different words here about spark catalyst internals"))
  // drop 2: a new near-dup of both + a copy of old 2 + a fresh singleton
  private val drop2 = Seq(
    (10L, near3), (11L, near2),
    (12L, "another disjoint document with its very own vocabulary set"))

  /** Drops 1 and 2 drained as batch ids 0 and 1 into a fresh state:
    * (landing dir, statePath, pairsPath), shared by both tests. */
  private lazy val drained = {
    val root = Files.createTempDirectory("graft-stream-delta")
    val in = root.resolve("in"); Files.createDirectory(in)
    drop1.toDF("doc_id", "text").coalesce(1)
      .write.parquet(in.resolve("d1").toString)
    drop2.toDF("doc_id", "text").coalesce(1)
      .write.parquet(in.resolve("d2").toString)
    val statePath = root.resolve("state").toString
    val pairsPath = root.resolve("pairs").toString
    drain(in, statePath, pairsPath)
    (in, statePath, pairsPath)
  }

  private def drain(in: java.nio.file.Path, statePath: String,
                    pairsPath: String): Unit = {
    val schema = drop1.toDF("doc_id", "text").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1") // one crawl drop per micro-batch
      .parquet(in.toString + "/*")
    EventStreams.deltaDedupStreamQuery(spark, stream, "text", "doc_id",
        statePath, pairsPath, threshold = 0.5, Trigger.AvailableNow())
      .awaitTermination()
  }

  test("streamed drops end in the batch rebuild's pair relation") {
    val (_, statePath, pairsPath) = drained
    def rel(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    val streamed = rel(EventStreams.weightedPairs(spark, statePath, pairsPath)
      .select("id1", "id2", "jaccard", "weight"))
    val full = rel(Dedup.minhashPairs(
      (drop1 ++ drop2).toDF("doc_id", "text"), "text", "doc_id",
      threshold = 0.5))
    assert(streamed == full,
      s"streamed $streamed must equal batch rebuild $full")
    // the cross-drop pair and the late re-weighting both happened
    assert(streamed.exists(t => t._1 == 1L && t._2 == 10L))
    assert(streamed.exists(t => t._1 == 1L && t._2 == 2L && t._4 == 4L),
      "drop-2 copy of doc 2 re-weights the drop-1 pair 1-2 to 2x2")
    // the state equals a from-scratch rebuild
    val mergedState = spark.read.parquet(statePath)
      .select("fp", "id", "n_copies").as[(String, Long, Long)]
      .collect().sortBy(_._2).toSeq
    val scratch = Dedup.fingerprintRepState(
        (drop1 ++ drop2).toDF("doc_id", "text"), "text", "doc_id")
      .select("fp", "id", "n_copies").as[(String, Long, Long)]
      .collect().sortBy(_._2).toSeq
    assert(mergedState == scratch)
  }

  test("a checkpoint reset fails loudly and leaves the state unchanged") {
    val (in, statePath, pairsPath) = drained
    def tables = Seq(statePath, s"${statePath}_base", pairsPath)
      .map(p => spark.read.parquet(p).collect().map(_.toString).sorted.toSeq)
    val before = tables
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$statePath.__checkpoint"))
    Seq((20L, "a third drop landing after the checkpoint was lost"))
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(in.resolve("d3").toString)
    // batch ids restart at 0 below the state's last_batch 1
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(in, statePath, pairsPath)
    }
    assert(ex.toString.contains("checkpoint was reset"), ex.toString)
    assert(tables == before, "a reset must fold nothing")
  }
}
