package graft

import graft.streaming.EventStreams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** The per-document curation gates are STATELESS map-only projections
  * (quality score, Gopher rules, repetition stats, PII redaction), so
  * the exact same expressions run unchanged on a readStream — this spec
  * pins that property: a streamed corpus filtered through the gates
  * yields the identical keeper set and redacted text as the batch path.
  * (The corpus-GLOBAL stages — dedup, decontamination — are batch by
  * design; CurationModels documents that split.)
  */
class StreamingCurationSpec extends SparkSpec {
  import StreamingCurationSpec.CurationDrain

  private val src = "/root/testdata/sf0.001/documents.parquet"

  /** The shared gate: ONE map-only projection reusing the same library
    * expressions as CurationModels' DOCS_PROFILED -> DOCS_FILTERED. */
  private def gate(df: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions._
    val rep = graft.expressions.TextExpressions.repetitionStats(col("text"))
    val gop = graft.expressions.TextExpressions.gopherStats(col("text"))
    df.select(col("doc_id"), col("text"), col("lang"), col("source"),
        qualityScore(col("text")).as("quality"),
        rep.as("rep"), gop.as("gop"),
        redactPii(col("text")).as("redacted"))
      .filter(col("quality") >= 0.5 &&
        (col("rep.n_tokens") === 0L ||
          (lit(1.0) - col("rep.n_distinct").cast("double") /
            col("rep.n_tokens").cast("double")) <= 0.9) &&
        (col("gop.n_tokens") === 0L ||
          col("gop.n_alpha_toks").cast("double") /
            col("gop.n_tokens").cast("double") >= 0.8))
      .select(col("doc_id"), col("redacted"))
  }

  test("streamed curation gate equals the batch gate (same keeper set, same text)") {
    val dir = Files.createTempDirectory("graft-stream-cur")
    Files.copy(Paths.get(src), dir.resolve("docs.parquet"))
    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.schema(schema).parquet(dir.toString)
    val streamed = EventStreams.runAvailableNow(spark, gate(stream), "cur_out")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val batch = gate(spark.read.parquet(src))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(streamed.nonEmpty, "gate keeps a nonempty subset at sf0.001")
    assert(streamed == batch,
      s"streamed gate must equal batch gate: ${streamed.size} vs ${batch.size}")
  }

  // ---- streaming curation END-TO-END (VERDICT r7 next-#6) -------------

  /** Stopwords interleaved with per-doc unique tokens (the
    * CurationPipelineSpec corpus shape): every doc passes the gates and
    * benchmark overlap flags only genuinely shared text. */
  private def docText(i: Long): String =
    Seq("the", s"w${i}a", "of", s"w${i}b", "and", s"w${i}c", "to",
      s"w${i}d", "in", s"w${i}e", "is", s"w${i}f", "it", s"w${i}g",
      "that", s"w${i}h", "for", s"w${i}j", "a", s"w${i}k").mkString(" ")

  // two sequential AvailableNow drains (the cron-tick contract) so the
  // drop order is deterministic — the append-ordered slicing the
  // equality claim is stated for
  private def drain(f: CurationDrain): Unit = {
    val stream = spark.readStream.schema(f.union.schema)
      .option("maxFilesPerTrigger", "1").parquet(f.in.toString + "/*")
    EventStreams.curationStreamQuery(spark, stream, f.bench,
      f.statePath, f.cleanPath, f.pairsPath, threshold = 0.5)
      .awaitTermination()
  }

  /** Drops 1 and 2 drained as batch ids 0 and 1 into a fresh state. */
  private lazy val e2e: CurationDrain = {
    import spark.implicits._
    // drop 1: gated docs 0..9, an exact copy of 0, a junk doc the gate
    // drops, and doc 1 is benchmark-contaminated
    val drop1 = ((0L until 10L).map(i => (i, docText(i), "en", "web")) ++
      Seq((100L, docText(0), "en", "web"), (200L, "!!! ???", "en", "spam")))
      .toDF("doc_id", "text", "lang", "source")
    // drop 2: new docs, an exact copy of drop-1's doc 2, and a NEAR-dup
    // of doc 0 (one unique token changed -> jaccard ~0.71 >= 0.5)
    val drop2 = ((10L until 15L).map(i => (i, docText(i), "en", "web")) ++
      Seq((101L, docText(2), "en", "web"),
        (110L, docText(0).replace("w0k", "w0kx"), "en", "web")))
      .toDF("doc_id", "text", "lang", "source")
    val bench = Seq((9001L, docText(1))).toDF("doc_id", "text")

    val root = Files.createTempDirectory("graft-stream-cur-e2e")
    val in = root.resolve("in"); Files.createDirectory(in)
    val f = CurationDrain(in, root.resolve("state").toString,
      root.resolve("clean").toString, root.resolve("pairs").toString,
      drop1.unionByName(drop2), bench)
    drop1.coalesce(1).write.parquet(in.resolve("d1").toString)
    drain(f)
    drop2.coalesce(1).write.parquet(in.resolve("d2").toString)
    drain(f)
    f
  }

  test("micro-batched crawl == batch DAG DOCS_CLEAN; delta pairs == batch rebuild") {
    import graft.models.CurationModels
    import graft.operators.Dedup
    import graft.pipeline.Pipeline._
    import spark.implicits._
    val CurationDrain(_, statePath, cleanPath, pairsPath, union, bench) = e2e

    // the batch DAG over the union corpus
    val tmp = Files.createTempDirectory("graft-cur-batch").toString
    val cfg = RunConfig(env = Dev, warehouseRoot = tmp)
    CurationModels.registry(spark, union, bench).run(cfg, Seq("DOCS_CLEAN"))
    def docSet(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    val streamedClean = docSet(spark.read.parquet(cleanPath))
    val batchClean = docSet(
      spark.read.parquet(s"$tmp/DEV/3_MART___CURATION/DOCS_CLEAN"))
    assert(streamedClean == batchClean,
      s"streamed DOCS_CLEAN ${streamedClean.map(_._1)} != batch ${batchClean.map(_._1)}")
    // the planted shapes actually fired
    val ids = streamedClean.map(_._1)
    assert(ids.contains(0L) && !ids.contains(100L) && !ids.contains(101L),
      "exact copies collapse to keepers across drops")
    assert(!ids.contains(1L), "benchmark-contaminated doc removed")
    assert(!ids.contains(200L), "junk fails the gate")
    assert(ids.contains(110L), "a NEAR-dup is not dropped by exact dedup")

    // the evolving pair relation equals the batch rebuild over the
    // gated union (cross-drop near-dup pair included)
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .select("id1", "id2", "jaccard", "weight")
      .as[(Long, Long, Double, Long)].collect().toSet
    val streamedPairs = pairSet(
      EventStreams.weightedPairs(spark, statePath, pairsPath))
    val batchPairs = pairSet(Dedup.minhashPairs(
      CurationModels.gateDocs(union), "text", "doc_id", threshold = 0.5))
    assert(streamedPairs == batchPairs,
      s"streamed pairs $streamedPairs != batch $batchPairs")
    assert(streamedPairs.exists(p => p._1 == 0L && p._2 == 110L && p._4 == 2L),
      "cross-drop near-dup pair present, weighted by doc 0's copy count")

    // the transitive groups evolved per batch equal the batch closure
    def labelMap(df: org.apache.spark.sql.DataFrame) = df
      .select("id", "group_id").as[(Long, Long)].collect().toMap
    val streamedGroups = labelMap(spark.read.parquet(pairsPath + "_groups"))
    val batchGroups = labelMap(Dedup.connectedComponents(
      Dedup.minhashPairs(CurationModels.gateDocs(union), "text", "doc_id",
        threshold = 0.5).select("id1", "id2")))
    assert(streamedGroups == batchGroups && streamedGroups.nonEmpty,
      s"streamed groups $streamedGroups != batch closure $batchGroups")
  }

  test("a checkpoint reset fails loudly and leaves the state unchanged") {
    import spark.implicits._
    val f = e2e
    def tables = Seq(f.statePath, f.cleanPath, f.pairsPath,
        s"${f.pairsPath}_groups")
      .map(p => spark.read.parquet(p).collect().map(_.toString).sorted.toSeq)
    val before = tables
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"${f.statePath}.__checkpoint"))
    Seq((20L, docText(20), "en", "web"))
      .toDF("doc_id", "text", "lang", "source").coalesce(1)
      .write.parquet(f.in.resolve("d3").toString)
    // batch ids restart at 0 below the state's last_batch 1
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(f)
    }
    assert(ex.toString.contains("checkpoint was reset"), ex.toString)
    assert(tables == before, "a reset must fold nothing")
  }
}

object StreamingCurationSpec {
  /** The end-to-end fixture both tests read: the landing dir and the
    * streamed relations, the union corpus and the benchmark. */
  final case class CurationDrain(in: java.nio.file.Path,
      statePath: String, cleanPath: String, pairsPath: String,
      union: DataFrame, bench: DataFrame)
}
