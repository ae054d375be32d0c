package perfbench

import graft.SparkEntry
import graft.catalog.Catalog
import graft.models.CurationModels
import graft.pipeline.{DataTests, Pipeline, ProductionRun, VersionedTable}
import graft.pipeline.Pipeline.{Model, Registry, RunConfig}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark JVM. It builds the session, opens the catalog, runs an
  * unmeasured warm-up, prints `READY` (the launcher times set-up up to
  * that line), then runs one mode and writes its raw records as JSON to
  * `--out`. All arithmetic on the records happens in `run.py`.
  *
  * Modes:
  *  - `setup`: halt at READY;
  *  - `queries`: a cold pass, then at least two warm passes, more until
  *    `--seconds` have passed;
  *  - `curation`: a cold refresh of the base corpus, then incremental
  *    ticks to the full corpus, more until `--seconds` have passed;
  *  - `record`: each query's output and oracle SQL for the one-time DuckDB
  *    proof, and the curation digests of a full rebuild;
  *  - `selftest`: call-site attribution.
  * `--fail <model>` makes that curation model throw, for the self-test of
  * failure accounting.
  */
object GraftBench {
  val SpanKey = "perfbench.span"

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = o("work")
    val n = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder().master(s"local[$n]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.graft.tmp", s"$work/scratch")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val cat = Catalog(spark, o("data"))
    val c0 = System.nanoTime()
    o("tables").split(",").foreach(t => cat.table(t).schema)
    val catalogS = (System.nanoTime() - c0) / 1e9
    calibrate(spark) // warm-up: the same job the calibration times later
    println("READY")
    System.out.flush()
    // the launcher removes the run's private dirs, so nothing needs a clean stop
    if (o("mode") == "setup") Runtime.getRuntime.halt(0)

    val b = new Bench(spark, o, n)
    b.result("catalog_s") = catalogS
    o("mode") match {
      case "queries" => b.queries()
      case "curation" => b.curation()
      case "record" => b.record()
      case "selftest" => b.selftest()
      case m => sys.error(s"unknown mode $m")
    }
    b.result("peak_rss_mb") = peakRssMb()
    Files.writeString(Paths.get(o("out")), Js(b.result.toMap))
    Runtime.getRuntime.halt(0)
  }

  /** Fixed CPU-bound job: its time tracks the host, not the program. */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 3000000L, 1L, 4).selectExpr("sum(hash(id, id * 7))").collect()
    (System.nanoTime() - t0) / 1e9
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Order-insensitive digest of a result, in the way graft.Verify digests
    * a dump: per row an xxhash64 over every column cast to string, the
    * columns taken in name order. Rows are summed (not XORed) so that a
    * duplicated row changes the digest. */
  def digestFrame(df: DataFrame): DataFrame = {
    val names = df.columns
    val order = names.indices.sortBy(i => (names(i), i))
    val renamed = df.toDF(names.indices.map(i => s"c$i"): _*)
    renamed.select(F.xxhash64(order.map(i => F.col(s"c$i").cast("string")): _*).as("h"))
      .agg(F.count(F.lit(1)).as("rows"),
        F.coalesce(F.sum(F.col("h").cast("decimal(38,0)")), F.lit(0).cast("decimal(38,0)"))
          .cast("string").as("digest"))
  }
}

/** Minimal JSON writer for the records. */
object Js {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Per-job counts, attributed to the span named by the job's local
  * property and to the source file of its call site. */
final class JobRec(val id: Int, val span: Int, val site: String, val start: Long) {
  var end = 0L; var ok = true; var stages = 0; var tasks = 0
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleW = 0L; var shuffleR = 0L; var spill = 0L; var input = 0L; var output = 0L
  def toMap: Map[String, Any] = Map("id" -> id, "span" -> span, "site" -> site,
    "start" -> start, "end" -> end, "ok" -> ok, "stages" -> stages, "tasks" -> tasks,
    "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "shuffle_w" -> shuffleW,
    "shuffle_r" -> shuffleR, "spill" -> spill, "input" -> input, "output" -> output)
}

final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, JobRec]
  private val executionSite = mutable.Map.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    // a SQL execution records the call site of the thread that started it
    // ("collect at Similarity.scala:NNN"); its jobs may run on AQE threads
    // whose own call site is a JDK frame
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { executionSite(s.executionId) = s.description }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val span = prop(GraftBench.SpanKey).map(_.toInt).getOrElse(-1)
    // an RDD job's result stage is named after its call site
    val site = prop("spark.sql.execution.id").flatMap(id => executionSite.get(id.toLong))
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    val r = new JobRec(e.jobId, span, site, e.time)
    jobs(e.jobId) = r
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, r))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { r => r.end = e.time; r.ok = e.jobResult == JobSucceeded }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (r <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      r.tasks += 1; r.runMs += m.executorRunTime; r.cpuNs += m.executorCpuTime
      r.gcMs += m.jvmGCTime; r.shuffleW += m.shuffleWriteMetrics.bytesWritten
      r.shuffleR += m.shuffleReadMetrics.totalBytesRead
      r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      r.input += m.inputMetrics.bytesRead; r.output += m.outputMetrics.bytesWritten
    }
  }
  def drain(): Seq[JobRec] = synchronized {
    val js = jobs.values.toSeq; jobs.clear(); stageJob.clear(); executionSite.clear(); js
  }
}

final class Span(val id: Int, val name: String, @volatile var parent: Int,
                 val start: Double, val thread: String) {
  @volatile var end: Double = Double.NaN
  def toMap: Map[String, Any] = Map("id" -> id, "name" -> name, "parent" -> parent,
    "start" -> start, "end" -> end, "thread" -> thread)
}

final class Bench(spark: SparkSession, o: Map[String, String], cores: Int) {
  import GraftBench._
  private val sc = spark.sparkContext
  private val data = o("data")
  private val seconds = o.getOrElse("seconds", "10").toDouble
  private val traced = o.getOrElse("trace", "0") == "1"
  val result = mutable.LinkedHashMap.empty[String, Any]
  result("cores") = cores

  // ---- spans: epoch milliseconds with sub-millisecond resolution, so that
  // they line up with the listener's job times (System.currentTimeMillis)
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  private def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  private val ids = new AtomicInteger
  private val spans = new ConcurrentLinkedQueue[Span]
  private val listener = new JobListener
  private val allJobs = mutable.ArrayBuffer.empty[JobRec]
  @volatile private var tracing = false

  private def current: Int = Option(sc.getLocalProperty(SpanKey)).map(_.toInt).getOrElse(-1)
  private def open(name: String, parent: Int, start: Double = now): Span = {
    val s = new Span(ids.incrementAndGet(), name, parent, start, Thread.currentThread.getName)
    spans.add(s); s
  }
  /** Run `body` inside a span that is the calling thread's current span
    * while it runs; jobs submitted meanwhile carry the span's id. */
  private def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val prev = sc.getLocalProperty(SpanKey)
      val s = open(name, current)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body finally { s.end = now; sc.setLocalProperty(SpanKey, prev) }
    }

  private def setTracing(on: Boolean): Unit = if (on != tracing) {
    if (on) sc.addSparkListener(listener) else {
      org.apache.spark.PerfbenchBridge.drainListeners(sc)
      sc.removeSparkListener(listener)
      allJobs ++= listener.drain()
    }
    tracing = on
  }

  private def settle(): Unit = {
    sc.cancelAllJobs()
    val until = System.nanoTime() + 30e9.toLong
    while (sc.statusTracker.getActiveJobIds().nonEmpty && System.nanoTime() < until)
      Thread.sleep(50)
  }

  private def secsSince(t0: Long) = (System.nanoTime() - t0) / 1e9

  /** A full collection between operations; the heap still in use after it
    * is what the program retains, and its peak over the run is reported
    * (unlike the resident size, it does not follow the collector's
    * heap-sizing decisions). The listener bus is drained first, so that
    * events still queued do not count. */
  private var peakHeap = 0L
  private def collectGarbage(): Unit = {
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    System.gc()
    peakHeap = math.max(peakHeap,
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  private def finish(passes: Seq[Map[String, Any]], calib0: Double): Unit = {
    setTracing(false)
    result("calib_s") = Seq(calib0, calibrate(spark))
    result("peak_heap_mb") = peakHeap / 1048576.0
    result("passes") = passes
    if (traced) {
      result("spans") = spans.asScala.toSeq.map(_.toMap)
      result("jobs") = allJobs.map(_.toMap)
    }
  }

  // ---------------------------------------------------------------- queries

  private def runQuery(key: String): Map[String, Any] = {
    val t0 = System.nanoTime()
    var buildS = Double.NaN
    var phases = Map.empty[String, Double]
    val rec = mutable.LinkedHashMap[String, Any]("key" -> key)
    try span(s"query:$key") {
      val df = span("build") { SparkEntry.queries(key)(spark, data) }
      buildS = secsSince(t0)
      span("action") {
        val d = digestFrame(df)
        val row = d.collect()(0)
        phases = d.queryExecution.tracker.phases.map { case (k, p) => k -> p.durationMs / 1e3 }
        rec("rows") = row.getLong(0); rec("digest") = row.getString(1)
      }
      rec("ok") = true
    } catch {
      case e: Throwable =>
        rec("ok") = false; rec("error") = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        settle()
    }
    rec("secs") = secsSince(t0) // a failed query keeps its time
    rec("build_s") = buildS
    rec("plan") = phases
    spark.catalog.clearCache()
    collectGarbage() // untimed, as graft.Bench does between queries
    rec.toMap
  }

  private def queryPass(keys: Seq[String], kind: String, traceIt: Boolean): Map[String, Any] = {
    setTracing(traceIt)
    val t0 = System.nanoTime()
    val ops = span(s"pass:$kind") { keys.map(runQuery) }
    Map("kind" -> kind, "traced" -> traceIt, "secs" -> secsSince(t0), "ops" -> ops)
  }

  def queries(): Unit = {
    val keys = o("keys").split(",").toSeq
    val calib0 = calibrate(spark)
    val start = System.nanoTime()
    val passes = mutable.ArrayBuffer(queryPass(keys, "cold", traceIt = false))
    // warm passes until the window closes, at least two so that warm_s is
    // a median; a traced run alternates untraced and traced passes so that
    // it measures its own overhead
    var i = 0
    while (i < 2 || secsSince(start) < seconds) {
      passes += queryPass(keys, "warm", traceIt = traced && i % 2 == 1)
      i += 1
    }
    finish(passes.toSeq, calib0)
  }

  // --------------------------------------------------------------- curation

  private def isMaterialized(m: Model): Boolean = m.materialization match {
    case Pipeline.View | Pipeline.Ephemeral => false
    case _ => true
  }

  /** The curation DAG as a scheduled job would configure it. The registry
    * is re-registered through the public API with a build wrapper that
    * opens a model span and tags the jobs the model fires. */
  private def registry(docs: DataFrame, bench: DataFrame): Registry = {
    val r = CurationModels.registry(spark, docs, bench, incrementalFilter = true,
      exportBudget = Some(CurationExportBudget), perplexityGate = Some(CurationMaxCe))
    val wrapped = new Registry(spark)
    r.names.foreach { n =>
      val m = r.model(n)
      wrapped.register(Model(m.name, m.layer, m.deps, m.materialization, m.partitionBy)({ deps =>
        if (o.get("fail").contains(n)) throw new IllegalStateException(s"injected failure in $n")
        if (!tracing) m.build(deps)
        else {
          // left set after build: the materialization jobs that follow on
          // this thread belong to the model too
          val s = open(s"model:$n", refreshSpan)
          sc.setLocalProperty(SpanKey, s.id.toString)
          try m.build(deps) finally s.end = now
        }
      }))
    }
    wrapped
  }
  private val CurationExportBudget = 300L
  private val CurationMaxCe = 3.46 // about the 95th percentile of the corpus
  // the export cut's versioned data card and everything it depends on;
  // packing, sharding and the RAG index stages (a k-means refit per
  // refresh) do not fit the run's time budget
  private val CurationTargets = Seq("DATA_CARD")
  @volatile private var refreshSpan = -1

  /** The data checks of CurationModels.tests on the targets' models. */
  private def checks(rel: Map[String, DataFrame]): Seq[DataTests.Check] = {
    import DataTests._
    import graft.functions.GraftFunctions.{emailRe, patternCount}
    Seq(
      Check("DOCS_FILTERED", "doc_id_not_null", notNull(rel("DOCS_FILTERED"), "doc_id")),
      Check("DOCS_FILTERED", "text_not_null", notNull(rel("DOCS_FILTERED"), "text")),
      Check("DOCS_DEDUPED", "doc_id_unique", unique(rel("DOCS_DEDUPED"), Seq("doc_id"))),
      Check("DOCS_CLEAN", "no_email_pii",
        rel("DOCS_CLEAN").filter(patternCount(F.col("text"), emailRe) > 0)))
  }

  private def tableDigests(r: Registry, root: String): Map[String, (Long, String)] = {
    val cfg = RunConfig(env = Pipeline.Core, warehouseRoot = root)
    val tables = r.topoOrder(CurationTargets).map(r.model).filter(isMaterialized).map { m =>
      val path = Pipeline.materializationPath(cfg, m.layer, m.name)
      val df = m.materialization match {
        case _: Pipeline.Versioned => VersionedTable.read(spark, path)
        case _ => spark.read.parquet(path)
      }
      digestFrame(df).select(F.lit(m.name).as("t"), F.col("rows"), F.col("digest"))
    }
    tables.reduce(_ unionAll _).collect()
      .map(row => row.getString(0) -> (row.getLong(1), row.getString(2))).toMap
  }

  private def listing(root: String): (Long, Long) = {
    val p = Paths.get(root)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.size.toLong, files.map(Files.size).sum)
    }
  }

  /** One ProductionRun into `root`; the record carries the report, the
    * digests of every materialized table, and a contamination check. */
  private def refresh(kind: String, docs: DataFrame, bench: DataFrame, root: String,
                      traceIt: Boolean, threads: Int): Map[String, Any] = {
    setTracing(traceIt)
    val r = registry(docs, bench)
    val rec = mutable.LinkedHashMap[String, Any]("kind" -> kind, "traced" -> traceIt)
    val t0 = System.nanoTime()
    val top = if (tracing) Some(open(s"refresh:$kind", -1)) else None
    top.foreach { s => refreshSpan = s.id; sc.setLocalProperty(SpanKey, s.id.toString) }
    var checksSpan: Option[Span] = None
    val report = try {
      ProductionRun.run(spark, r, root, { frames =>
        if (tracing) {
          val s = open("checks", refreshSpan)
          sc.setLocalProperty(SpanKey, s.id.toString)
          checksSpan = Some(s)
        }
        checks(frames)
      }, targets = CurationTargets, threads = threads)
    } catch {
      case e: Throwable =>
        ProductionRun.Report(Seq(ProductionRun.PhaseResult("harness", ok = false,
          s"${e.getClass.getSimpleName}: ${e.getMessage}", 0L)), Nil)
    }
    rec("secs") = secsSince(t0)
    val end = now
    top.foreach { s =>
      s.end = end; checksSpan.foreach(_.end = end)
      sc.setLocalProperty(SpanKey, null)
      // phase spans from the report's own sequential phase timings; each
      // model or check span moves under the phase it started in
      var at = s.start
      val phaseSpans = report.phases.map { p =>
        val ps = open(s"phase:${p.phase}", s.id, at)
        at = math.min(end, at + p.millis); ps.end = at; ps
      }
      spans.asScala.filter(x => x.parent == s.id && !x.name.startsWith("phase:")).foreach { x =>
        phaseSpans.find(p => x.start >= p.start && x.start < p.end)
          .orElse(phaseSpans.lastOption).foreach(p => x.parent = p.id)
      }
    }
    if (!report.ok) settle()
    rec("ok") = report.ok
    rec("phases") = report.phases.map(p => Map("phase" -> p.phase, "ok" -> p.ok,
      "ms" -> p.millis, "detail" -> p.detail.take(300)))
    rec("checks") = report.tests.map(t => Map("model" -> t.model, "name" -> t.name,
      "violations" -> t.nViolations))
    rec("models") = r.topoOrder(CurationTargets).size
    val runOk = report.phases.exists(p => p.phase == "run prod" && p.ok)
    if (runOk) {
      setTracing(false)
      try {
        if (kind == "incr") rec("tables") = tableDigests(r, root).map { case (k, (n, d)) =>
          k -> Map("rows" -> n, "digest" -> d) }
        val cleanPath = Pipeline.materializationPath(
          RunConfig(env = Pipeline.Core, warehouseRoot = root), "3_MART___CURATION", "DOCS_CLEAN")
        rec("contaminated_kept") = spark.read.parquet(cleanPath)
          .join(bench.select("doc_id"), Seq("doc_id"), "left_semi").count()
      } catch { case e: Throwable => rec("digest_error") = e.getMessage.take(300) }
      val (files, bytes) = listing(root)
      rec("files") = files; rec("bytes") = bytes
    }
    collectGarbage()
    rec.toMap
  }

  private def copyTree(from: Path, to: Path): Unit =
    if (Files.exists(from)) Files.walk(from).iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    }

  def curation(): Unit = {
    val seed = o("seed").toLong
    val docs = Catalog(spark, data).documents
    // Seeded salts through xxhash64: independent of the program's own
    // md5(doc_id) mod 20 LM sample, so no seed can empty that sample.
    def bucket(salt: String, m: Int) =
      F.pmod(F.xxhash64(F.col("doc_id"), F.lit(s"$salt-$seed")), F.lit(m))
    val bench = docs.filter(bucket("contamination", 50) === 0).select("doc_id", "text")
    val base = docs.filter(bucket("base", 10) =!= 0)
    val threads = math.min(4, cores)
    val work = o("work")
    val calib0 = calibrate(spark)
    val start = System.nanoTime()
    val passes = mutable.ArrayBuffer(
      refresh("cold", base, bench, s"$work/wh", traceIt = false, threads))
    // every tick starts from a copy of the base state, so that ticks repeat
    // the same work; a traced run alternates untraced and traced ticks
    var i = 0
    while (i < (if (traced) 2 else 1) || secsSince(start) < seconds) {
      val root = s"$work/tick$i"
      copyTree(Paths.get(s"$work/wh"), Paths.get(root))
      passes += refresh("incr", docs, bench, root, traced && i % 2 == 1, threads)
      i += 1
    }
    result("corpus_bytes") = Files.size(Paths.get(s"$data/documents.parquet"))
    finish(passes.toSeq, calib0)
  }

  // ---------------------------------------------------------- record / test

  /** Writes each query's output and oracle SQL under `--dump`, and the
    * digests of a full (non-incremental) curation rebuild of the whole
    * corpus, which the incremental tick must reproduce. */
  def record(): Unit = {
    val dump = o("dump")
    val keys = o("keys").split(",").toSeq
    result("queries") = keys.map { k =>
      val df = SparkEntry.queries(k)(spark, data)
      df.coalesce(1).write.mode("overwrite").parquet(s"$dump/$k")
      val row = digestFrame(spark.read.parquet(s"$dump/$k")).collect()(0)
      val live = digestFrame(df).collect()(0)
      require(row == live, s"$k: dump digest $row != live digest $live")
      k -> Map("rows" -> row.getLong(0), "digest" -> row.getString(1))
    }.toMap
    graft.queries.DataQueries.setOracleDir(data)
    val oracles = SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$dump/oracle_sql.json"),
      Js(keys.map(k => k -> oracles(k)).toMap))
    val docs = Catalog(spark, data).documents
    val none = docs.limit(0).select("doc_id", "text")
    val r = CurationModels.registry(spark, docs, none, incrementalFilter = false,
      exportBudget = Some(CurationExportBudget), perplexityGate = Some(CurationMaxCe))
    val root = s"${o("work")}/record-wh"
    val rep = ProductionRun.run(spark, r, root, checks, CurationTargets, threads = math.min(4, cores))
    require(rep.ok, s"full rebuild failed: ${rep.phases}")
    result("curation_full") = tableDigests(r, root).map { case (k, (n, d)) =>
      k -> Map("rows" -> n, "digest" -> d) }
  }

  /** Call-site attribution: jobs fired inside an operator must carry the
    * operator's source file as their call site, and the span property. */
  def selftest(): Unit = {
    setTracing(true)
    val emb = Catalog(spark, data).embeddings
    span("selftest") {
      val dim = emb.select("embedding").head.getSeq[Any](0).size
      graft.operators.KMeans.fit(emb, "embedding", "vec_id", k = 4, dim = dim, seedTag = "selftest")
    }
    finish(Nil, 0.0)
  }
}
