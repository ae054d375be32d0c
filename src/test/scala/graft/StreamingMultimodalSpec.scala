package graft

import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.MediaRow
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._

class StreamingMultimodalSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val s: org.apache.spark.sql.SparkSession = spark

  private val eventsDir = "/root/testdata/sf0.001"
  // streaming file source needs a DIRECTORY; stage the single parquet
  // file into one.
  private lazy val eventsStreamDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$eventsDir/events.parquet"),
      d.resolve("part-0.parquet"))
    d.toString
  }

  test("streaming windowed agg over AvailableNow matches batch equivalent") {
    val stream = EventStreams.readEvents(spark, eventsStreamDir)
    val got = EventStreams.runAvailableNow(spark,
      EventStreams.windowedTypeCounts(stream), "win_counts")
    // batch twin on the same data
    val batch = graft.catalog.Catalog(spark, eventsDir).events
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
    val gotTotal = got.agg(sum("n_events")).head.getLong(0)
    val batchWindows = batch.count()
    // append mode drops windows newer than the final watermark; the
    // drained total must cover most of the batch row count and never
    // disagree on any window it did emit.
    assert(gotTotal > 0)
    val joined = got.join(
      batch.select(col("window.start").as("window_start"), col("event_type"),
        col("n_events").as("n_batch")),
      Seq("window_start", "event_type"))
    assert(joined.filter(col("n_events") =!= col("n_batch")).count() == 0,
      "every emitted window agrees with the batch computation")
    assert(joined.count() > 0 && batchWindows > 0)
  }

  test("stateful sessionization emits closed sessions with correct counts") {
    val stream = EventStreams.readEvents(spark, eventsStreamDir)
    val sessions = EventStreams.sessionize(stream)
    val got = EventStreams.runAvailableNow(spark, sessions.toDF(), "sessions")
    // closed sessions only (trailing open sessions stay in state);
    // every emitted session must respect the 30-min gap invariants.
    val bad = got.filter(col("session_end") < col("session_start")).count()
    assert(bad == 0)
    assert(got.count() > 0, "some sessions closed over the 2-week event range")
    // sanity vs batch: no user may have more closed sessions than the
    // batch sessionizer counts in total.
    val batch = graft.queries.CoreQueries.q14Sessionize(spark, eventsDir)
      .select(col("user_id"), col("n_sessions"))
    val over = got.groupBy("user_id").count()
      .join(batch, Seq("user_id"))
      .filter(col("count") > col("n_sessions")).count()
    assert(over == 0)
  }

  test("multimodal: deterministic features, schema, and fan-out frames") {
    val media = Seq(
      MediaRow(1L, "image", Array.tabulate(2048)(_.toByte), "image/fake", Map("w" -> "64")),
      MediaRow(2L, "video", Array.tabulate(8192)(_.toByte), "video/fake", Map()),
      MediaRow(3L, "audio", Array.tabulate(512)(i => (i * 3).toByte), "audio/fake", Map()))
      .toDS()
    val feats = Multimodal.extractFeatures(media, dim = 16)
    val rows = feats.collect().sortBy(_.media_id)
    assert(rows.map(_.media_id).toSeq == Seq(1L, 2L, 3L))
    assert(rows.forall(_.features.length == 16))
    assert(rows(0).n_bytes == 2048)
    // determinism: same input -> same features
    val again = Multimodal.extractFeatures(media, dim = 16).collect()
      .sortBy(_.media_id)
    assert(rows.map(_.features.toSeq).toSeq == again.map(_.features.toSeq).toSeq)
    // distinct inputs -> distinct features
    assert(rows(0).features.toSeq != rows(2).features.toSeq)

    val frames = Multimodal.sampleFrames(media, frameSize = 1024, every = 2)
      .collect()
    assert(frames.forall(_.media_id == 2L), "only video rows fan out")
    // 8192/1024 = 8 frames, every 2nd kept -> 4
    assert(frames.map(_.frame_index).sorted.toSeq == Seq(0, 2, 4, 6))
  }

  test("multimodal dedup: identical payloads collapse to the lowest id; bytes never shuffle") {
    val payload = Array.tabulate(300)(_.toByte)
    val media = Seq(
      MediaRow(5L, "image", payload, "image/fake", Map()),
      MediaRow(2L, "image", payload.clone(), "image/fake", Map()),   // dup, lower id
      MediaRow(9L, "audio", Array.tabulate(300)(i => (i + 1).toByte), "audio/fake", Map()),
      MediaRow(7L, "video", Array.tabulate(10)(_.toByte), "video/fake", Map()))
      .toDS()
    val out = Multimodal.dedupMedia(media).collect()
      .map(r => (r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(out.toSeq == Seq((2L, 2L), (7L, 1L), (9L, 1L)),
      s"keeper = lowest id, copies counted: ${out.toSeq}")
    // the exchange carries fingerprints, not payloads: no 'bytes'
    // attribute may survive into the aggregation subtree
    val plan = Multimodal.dedupMedia(media).queryExecution.executedPlan.toString
    val aggPart = plan.substring(plan.indexOf("Exchange"))
    // the payload attribute prints as `bytes#<id>`; `n_bytes#` is the
    // length column and is allowed
    assert(!"(?<![_a-zA-Z])bytes#".r.findFirstIn(aggPart).isDefined,
      s"payload bytes must not reach the shuffle:\n$plan")
  }

  test("multimodal chunking: exact coverage, ordered reassembly, no phantom chunks on empty payloads") {
    val payload = Array.tabulate(1000)(i => (i % 251).toByte)
    val media = Seq(
      MediaRow(1L, "image", payload, "image/fake", Map()),
      MediaRow(2L, "audio", Array.tabulate(256)(_.toByte), "audio/fake", Map()), // exact multiple
      MediaRow(3L, "video", Array[Byte](7), "video/fake", Map()),                // single byte
      MediaRow(4L, "image", Array.empty[Byte], "image/fake", Map()))             // empty
      .toDS()
    val chunks = Multimodal.chunk(media, chunkSize = 256)
      .orderBy("media_id", "chunk_index").collect()
    // 1000 -> 4 chunks (256,256,256,232); 256 -> 1; 1 -> 1; empty -> none
    assert(chunks.map(_.getLong(0)).toSeq == Seq(1L, 1L, 1L, 1L, 2L, 3L))
    assert(chunks.map(_.getLong(2)).toSeq == Seq(256L, 256L, 256L, 232L, 256L, 1L))
    // md5 of each range matches a direct digest of the same byte slice
    val md = java.security.MessageDigest.getInstance("MD5")
    chunks.filter(_.getLong(0) == 1L).foreach { r =>
      val i = r.getLong(1).toInt
      val slice = payload.slice(i * 256, math.min((i + 1) * 256, payload.length))
      val hex = md.digest(slice).map("%02x".format(_)).mkString
      md.reset()
      assert(r.getString(3) == hex, s"chunk $i md5")
    }
  }
}
