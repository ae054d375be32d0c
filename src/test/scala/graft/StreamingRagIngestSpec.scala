package graft

import java.nio.file.Files

import graft.pipeline.VersionedTable
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._

/** Streaming RAG ingest ([[EventStreams.ragIngestStreamQuery]]): crawl
  * drops stream through chunk → stub-embed → frozen-codebook assign →
  * versioned cell-keyed merge. Pins the three load-bearing contracts:
  * the drained index equals the BATCH build over the union of drops
  * (the delta-family losslessness shape), every tick commits a new
  * version while a reader pinned on the previous one stays consistent,
  * and a re-sent doc replaces its chunks in place (at-least-once
  * convergence). */
class StreamingRagIngestSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8
  // frozen coarse codebook (the e20 contract: the stream never refits)
  private val codebook: Seq[Seq[Double]] =
    (0 until 4).map(c => (0 until dim).map(j =>
      math.abs(math.sin(c * dim + j + 1)) + 0.01).toSeq)

  private def docText(i: Long): String =
    (0 until 60).map(t => s"w${i}_$t").mkString(" ") // 60 toks -> 2 chunks

  private def batchIndex(docs: org.apache.spark.sql.DataFrame) =
    graft.operators.Similarity.cellAssignments(
      graft.operators.TextAnalysis
        .tokenWindowChunks(docs, "text", "doc_id", 64, 48)
        .withColumn("chunk_id",
          col("doc_id") * lit(100000L) + col("chunk_idx"))
        .withColumn("emb", graft.multimodal.Multimodal
          .stubTextEmbedding(col("chunk_text"), dim)),
      "emb", "chunk_id", codebook)
      .withColumnRenamed("id", "chunk_id")

  private def canon(df: org.apache.spark.sql.DataFrame) = df
    .select(col("chunk_id"), col("cell").cast("long").as("cell"),
      col("v"))
    .collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).mkString(",")))
    .sortBy(_._1).toSeq

  test("drained stream == batch build; ticks version; pinned reader consistent; re-sent doc replaces") {
    val land = Files.createTempDirectory("graft-rag-land")
    val root = Files.createTempDirectory("graft-rag-idx").toString + "/idx"
    val drop1 = (0L until 6L).map(i => (i, docText(i))).toDF("doc_id", "text")
    // drop 2: new docs + doc 1 re-sent with IDENTICAL text (a crawl
    // re-fetch) — its chunks must replace in place, not duplicate
    val drop2 = ((6L until 10L).map(i => (i, docText(i))) :+ (1L, docText(1)))
      .toDF("doc_id", "text")
    val schema = drop1.schema

    def land1(df: org.apache.spark.sql.DataFrame): Unit =
      df.coalesce(1).write.mode("append").parquet(land.toString)

    def tick(): Unit = {
      val q = EventStreams.ragIngestStreamQuery(spark,
        spark.readStream.schema(schema).parquet(land.toString),
        "text", "doc_id", codebook, dim, root)
      q.awaitTermination()
    }

    land1(drop1)
    tick()
    assert(VersionedTable.currentVersion(spark, root) === Some(1L))
    val v1 = canon(VersionedTable.read(spark, root))
    assert(v1 === canon(batchIndex(drop1)),
      "tick 1 must equal the batch build over drop 1")
    assert(v1.size === 12, "6 docs x 2 chunks")

    // a reader pinned BEFORE tick 2 must keep seeing version 1
    val pinned = VersionedTable.read(spark, root)

    land1(drop2)
    tick()
    assert(VersionedTable.currentVersion(spark, root).exists(_ >= 2L))
    val now = canon(VersionedTable.read(spark, root))
    val all = drop1.unionByName(drop2).dropDuplicates("doc_id")
    assert(now === canon(batchIndex(all)),
      "drained index must equal the batch build over the union of drops")
    assert(now.size === 20, "10 distinct docs x 2 chunks - no duplicate " +
      "rows from the re-sent doc")
    assert(canon(pinned) === v1,
      "a reader resolved before tick 2 stays on version 1's files")
  }
}
