package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types._

/** Streaming lateness / watermark observability (VERDICT r10 next-#7).
  *
  * The streaming surface is correct but was silent about the first
  * operational question a real pipeline asks: "are we dropping late
  * data, and how far does the watermark lag the stream?" Spark already
  * measures both per micro-batch — `StreamingQueryProgress` carries the
  * event-time watermark and per-stateful-operator
  * `numRowsDroppedByWatermark` — but only as an in-memory progress
  * object. This module lands those numbers in a WAREHOUSE TABLE
  * (parquet, one row per micro-batch per stateful operator) so
  * lateness is queryable next to the data it affected.
  *
  * Two collection paths, matching the two operational modes:
  *  - [[harvest]] — synchronous, for `Trigger.AvailableNow` cron-tick
  *    drains (the reference's operational model): after the drain,
  *    fold the query's `recentProgress` into the metrics table. No
  *    listener-bus asynchrony, so a scheduler step can gate on the
  *    metrics it just wrote (e.g. fail the tick when late_rows_dropped
  *    spikes).
  *  - [[MetricsListener]] — a `StreamingQueryListener` appending each
  *    progress as it is reported, for continuously-running queries.
  *
  * Scale shape: metrics volume is O(batches × stateful operators) —
  * hundreds of bytes per micro-batch, appended as small files; the S3
  * maintenance story is [[graft.pipeline.Pipeline.compact]], same as
  * any other slowly-growing warehouse table.
  *
  * Reading `late_rows_dropped`: Spark runs TWO watermarks per batch
  * (SPARK-40925) — rows are judged late against the PREVIOUS batch's
  * committed watermark, while state eviction uses the current one. So
  * a row arriving one batch after the sentinel that outran it is not
  * yet dropped; the same row a batch later is. The `watermark` column
  * here is the progress-reported (eviction) value — a drop recorded in
  * batch N was enforced against batch N-1's row. The spec pins this
  * boundary with three-batch fixtures.
  * Declared by SURVEY "Beyond `queries` (round 11)", lateness metrics.
  */
object StreamingMetrics {

  /** One row per (micro-batch, stateful operator); a stateless batch
    * contributes one row with a NULL operator so input volume and
    * watermark lag remain observable even when no state exists. */
  val schema: StructType = StructType(Seq(
    StructField("query_name", StringType),
    StructField("run_id", StringType),
    StructField("batch_id", LongType),
    StructField("batch_ts", StringType), // progress wall-clock, ISO-8601
    StructField("input_rows", LongType),
    StructField("watermark", TimestampType, nullable = true),
    StructField("max_event_time", TimestampType, nullable = true),
    StructField("watermark_lag_ms", LongType, nullable = true),
    StructField("operator", StringType, nullable = true),
    StructField("state_rows_total", LongType, nullable = true),
    StructField("state_rows_updated", LongType, nullable = true),
    StructField("late_rows_dropped", LongType, nullable = true)))

  private def parseTs(s: String): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.parse(s))

  /** Flatten one progress report into metrics rows. The initial
    * epoch watermark (no event has been seen yet) is recorded as NULL,
    * not 1970 — a lag against epoch is noise, not a measurement. */
  def progressRows(p: StreamingQueryProgress): Seq[Row] = {
    val et = p.eventTime
    def tsField(key: String): Option[java.sql.Timestamp] =
      Option(et.get(key)).map(parseTs).filter(_.getTime > 0L)
    val wm = tsField("watermark")
    val maxEt = tsField("max")
    val lag: Option[Long] =
      for (w <- wm; m <- maxEt) yield m.getTime - w.getTime
    val head = Seq[Any](
      p.name, p.runId.toString, p.batchId, p.timestamp, p.numInputRows,
      wm.orNull, maxEt.orNull, lag.map(Long.box).orNull)
    val ops = p.stateOperators
    if (ops == null || ops.isEmpty)
      Seq(Row.fromSeq(head ++ Seq(null, null, null, null)))
    else ops.toSeq.map { op =>
      Row.fromSeq(head ++ Seq(op.operatorName, op.numRowsTotal,
        op.numRowsUpdated, op.numRowsDroppedByWatermark))
    }
  }

  private def append(spark: SparkSession, rows: Seq[Row],
                     metricsPath: String): Unit =
    if (rows.nonEmpty)
      spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("append").parquet(metricsPath)

  /** Synchronous post-drain harvest: append every progress the query
    * retained (`recentProgress`, bounded by
    * spark.sql.streaming.numRecentProgressUpdates — ample for an
    * AvailableNow tick) to the metrics table. Call after
    * `awaitTermination`; rows are on disk when this returns. */
  def harvest(spark: SparkSession, q: StreamingQuery,
              metricsPath: String): Unit =
    append(spark, q.recentProgress.toSeq.flatMap(progressRows), metricsPath)

  /** Continuous-mode collection: appends each progress as reported.
    * Listener callbacks run on the shared listener bus — the write is
    * one tiny single-partition job per micro-batch. Remove with
    * `spark.streams.removeListener` when the query stops. */
  final class MetricsListener(spark: SparkSession, metricsPath: String)
      extends StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      append(spark, progressRows(e.progress), metricsPath)
  }

  def attach(spark: SparkSession, metricsPath: String): MetricsListener = {
    val l = new MetricsListener(spark, metricsPath)
    spark.streams.addListener(l)
    l
  }

  /** The metrics table (empty with the right schema when no batch has
    * reported yet — a gate over a fresh pipeline must evaluate, not
    * throw). */
  def readMetrics(spark: SparkSession, metricsPath: String): DataFrame =
    // Hadoop-FS existence, not java.io.File: on hdfs://s3a:// a local
    // check is always false and latenessCheck would gate an always-empty
    // table, passing vacuously (ADVICE r11).
    if (graft.pipeline.Pipeline.pathExists(spark, metricsPath))
      spark.read.parquet(metricsPath)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)

  /** The operational LATENESS GATE, as a standard data-test check
    * (graft.pipeline.DataTests): violating rows are the micro-batches
    * that dropped more than `maxLate` late rows — so the same test
    * phase that checks not_null/unique on the warehouse gates the
    * stream's data loss, and a scheduler tick can fail loudly instead
    * of silently shipping a partial aggregate downstream. */
  def latenessCheck(spark: SparkSession, metricsPath: String,
                    maxLate: Long = 0L): graft.pipeline.DataTests.Check =
    graft.pipeline.DataTests.Check("streaming_metrics",
      s"late_rows_dropped<=$maxLate",
      graft.pipeline.DataTests.expect(readMetrics(spark, metricsPath),
        coalesce(col("late_rows_dropped"), lit(0L)) <= maxLate))

  /** [[EventStreams.runAvailableNow]] plus the metrics harvest: the
    * cron-tick runner a production scheduler would call — drain the
    * backlog, land the lateness metrics, return the sink. */
  def runAvailableNowWithMetrics(spark: SparkSession, out: DataFrame,
                                 queryName: String,
                                 metricsPath: String): DataFrame = {
    harvest(spark, EventStreams.drainToMemory(out, queryName), metricsPath)
    spark.table(queryName)
  }
}
