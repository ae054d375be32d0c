package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot-versioned parquet tables — the storage capability the
  * warehouse layer was missing (VERDICT r11 "what's missing" #3 /
  * next-#6): [[Pipeline]]'s swap discipline makes single-writer
  * updates crash-safe, but a READER concurrent with a swap races the
  * renames, and there is no way to read yesterday's state. This module
  * adds the minimal manifest layer that fixes both, the way the real
  * table formats do it (file-level manifests; Iceberg/Delta's core
  * idea, re-expressed minimally):
  *
  * Layout under `root/`:
  *   - `data/b<N>/…` immutable data files, written once by version N,
  *     NEVER mutated or renamed afterwards; partition layouts live
  *     inside the batch dir as `__pp_<col>=<value>/` dirs (the
  *     partition column is DUPLICATED into the dir key, so the data
  *     files keep every column and explicit-file reads need no
  *     directory inference — probed: basePath inference conflicts on
  *     batch dirs, plain file-list reads don't).
  *   - `_manifests/v<N>` one relative file path per line: THE version.
  *     A new version's manifest REFERENCES unchanged files of the old
  *     version — maintenance cost stays O(affected partitions), never
  *     O(table).
  *   - `_current` the pointer file, containing just `N`; updated by an
  *     atomic rename (write `_current.tmp`, rename over) — the commit
  *     point. Everything before the rename is invisible to readers;
  *     a crash anywhere leaves the previous version intact and the
  *     next write heals by overwriting the orphan batch/manifest.
  *
  * Readers ([[read]]/[[readVersion]]) resolve the pointer ONCE, to a
  * concrete immutable file list: a concurrent writer commits new
  * versions without touching those files, so a mid-scan reader sees
  * exactly one consistent version — the spec pins a reader resolved
  * before a swap collecting the OLD version's rows after the swap
  * lands. Time travel is [[readVersion]](n) over retained manifests.
  * [[prune]] bounds retention (keep the last K versions; files
  * referenced only by pruned manifests are deleted) — a reader slower
  * than K successive rewrites of its table is out of contract, exactly
  * Iceberg's `expire_snapshots` semantics.
  *
  * All paths go through the Hadoop FileSystem (hdfs://, s3a://,
  * file://). The MULTI-WRITER guarantee below additionally requires a
  * filesystem with an atomic no-overwrite commit primitive — file://
  * (link(2)) and hdfs:// (namenode rename) qualify; s3a:// does NOT
  * (its rename is a client-side existence-probe + copy, so two racing
  * writers can both "win" a version slot). On object stores, either
  * keep the single-writer-per-table scheduler discipline, or put the
  * manifest CAS behind a store that has conditional put (the same
  * boundary Delta/Iceberg draw: S3 multi-writer needs a
  * LogStore/catalog with conditional semantics).
  *
  * MULTI-WRITER (r13, VERDICT r12 next-#3): commits are OPTIMISTIC,
  * Iceberg-style. The commit point is the atomic put-if-absent
  * creation of `_manifests/v<N>` (a hard link on file:// — link(2)
  * fails EEXIST atomically; a no-overwrite rename on hdfs:// — atomic
  * at the namenode): whichever writer materializes version N's
  * manifest first owns N. A writer that loses the race re-reads the
  * (now advanced) current version, RE-STAGES its operation against the
  * new content under a fresh uniquely-named batch dir, and retries, a
  * bounded number of times. The `_current` pointer is a read CACHE
  * advanced after the manifest lands; [[currentVersion]] heals it
  * forward by probing for the next contiguous manifest, so a writer
  * crashing (or losing the pointer race) between manifest-create and
  * pointer-rename never hides a committed version and never blocks the
  * next writer. Lost-race staged dirs are swept by [[prune]] (their
  * version component ≤ current proves they can never commit).
  * In-JVM writers additionally serialize on a per-root lock — threads
  * of one scheduler shouldn't burn stage work racing each other;
  * the optimistic path is for SEPARATE processes.
  */
object VersionedTable {

  /** A lost optimistic-commit race: the planned version was committed
    * by another writer between this op's read of the current version
    * and its manifest put-if-absent. Retried by the mutators. */
  final class VersionConflictException(msg: String)
    extends RuntimeException(msg)

  private val maxCommitRetries = 5

  private[pipeline] def withCommitRetries[T](root: String, what: String)(
      attempt: () => T): T = {
    var last: Throwable = null
    var i = 0
    while (i < maxCommitRetries) {
      try return attempt()
      catch { case e: VersionConflictException => last = e; i += 1 }
    }
    throw new IllegalStateException(
      s"$what on $root lost $maxCommitRetries optimistic commit races " +
        "(a live concurrent writer, or a tampered pointer with no " +
        "matching manifests)", last)
  }

  private[pipeline] def fsFor(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private[pipeline] def hp(s: String) = new org.apache.hadoop.fs.Path(s)

  private def pointerPath(root: String) = s"$root/_current"
  private def bloomConfPath(root: String) = s"$root/_bloom"

  // bloom-zone shape: 65536 bits (8 KiB -> ~11 KB Base64 per (file,
  // column) manifest line — the parquet-bloom-sized tradeoff: manifest
  // bytes for file skips), 5 hash rows — at ~2500 distinct keys per
  // file the fill is ~17%, false-keep ~0.01%; a denser file degrades
  // to keeping more files, never to wrong rows (the residual filter
  // always re-applies the predicate)
  private val bloomBits = 65536
  private val bloomKh = 5

  /** Declare the columns whose per-file BLOOM zones every FUTURE commit
    * records (index DDL, not a writer flag: the config travels with the
    * table root, so any writer JVM — cron merge, compaction, rollback
    * restage — indexes the same columns). Existing versions are not
    * rewritten; their files simply carry no "b" zone and stay
    * unprunable for point probes, the same absence-means-keep contract
    * as every other zone class. */
  def setBloomColumns(spark: SparkSession, root: String,
                      cols: Seq[String]): Unit =
    atomicOverwriteText(spark, bloomConfPath(root), cols.mkString("\n"))

  /** The table's configured bloom columns (empty when unconfigured —
    * and on ANY read failure: a lost config only costs pruning). */
  def bloomColumns(spark: SparkSession, root: String): Seq[String] =
    try readTextIfExists(spark, bloomConfPath(root))
      .map(_.split("\n").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    catch { case scala.util.control.NonFatal(_) => Nil }
  private[pipeline] def manifestPath(root: String, v: Long) = s"$root/_manifests/v$v"
  private def dataRoot(root: String) = s"$root/data"

  // per-root writer serialization WITHIN this JVM: in-process writers
  // would be CORRECT through the optimistic manifest CAS alone (staged
  // dirs are attempt-unique since r13), but letting threads of one
  // scheduler race each other burns whole re-stage attempts for
  // nothing — serialize them and reserve the optimistic retry path for
  // SEPARATE processes, which this lock cannot see.
  private val rootLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]
  private[pipeline] def withRootLock[T](root: String)(body: => T): T =
    rootLocks.getOrElseUpdate(root, new Object).synchronized(body)

  private def readSmallFile(f: org.apache.hadoop.fs.FileSystem,
                            p: org.apache.hadoop.fs.Path): String = {
    val in = f.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, "UTF-8")
    } finally in.close()
  }

  private def writeSmallFile(f: org.apache.hadoop.fs.FileSystem,
                             p: org.apache.hadoop.fs.Path,
                             content: String): Unit = {
    val out = f.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  /** Atomic OVERWRITE of a small metadata file (the pointer-cache
    * rename recipe factored out): write a tmp sibling, then rename over
    * the destination — nio ATOMIC_MOVE on local files (Hadoop's local
    * OVERWRITE rename is delete-then-rename), Options.Rename.OVERWRITE
    * on HDFS-like stores. For last-writer-wins sidecars (the release
    * epoch cursor); put-if-absent commits stay [[commitText]]. */
  private[pipeline] def atomicOverwriteText(spark: SparkSession,
                                            path: String,
                                            content: String): Unit = {
    val f = fsFor(spark, path)
    val tmp = hp(path + ".tmp_" +
      java.util.UUID.randomUUID.toString.take(12))
    writeSmallFile(f, tmp, content)
    try {
      val dst = f.makeQualified(hp(path))
      if (dst.toUri.getScheme == "file")
        java.nio.file.Files.move(
          java.nio.file.Paths.get(f.makeQualified(tmp).toUri),
          java.nio.file.Paths.get(dst.toUri),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      else {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          dst.toUri, spark.sparkContext.hadoopConfiguration)
        fc.rename(fc.makeQualified(tmp), dst,
          org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      }
    } finally
      // a successful rename consumed the tmp (delete no-ops); a failed
      // one must not leave an orphan sibling (review r15)
      f.delete(tmp, false)
  }

  /** Small metadata file content, or None if absent. */
  private[pipeline] def readTextIfExists(spark: SparkSession,
                                         path: String): Option[String] = {
    val f = fsFor(spark, path)
    val p = hp(path)
    if (f.exists(p)) Some(readSmallFile(f, p)) else None
  }

  /** The committed version, if the table exists. The pointer file is a
    * CACHE: the commit point is the manifest's atomic creation, so the
    * pointer is healed FORWARD here by probing for the next contiguous
    * manifest — a writer that crashed (or lost the pointer race)
    * between manifest-create and pointer-rename has still committed
    * (its data was fully staged before the manifest landed), and its
    * version must be visible to readers and to the next writer's
    * version planning. Usually one extra existence probe (v+1 absent). */
  def currentVersion(spark: SparkSession, root: String): Option[Long] = {
    val f = fsFor(spark, root)
    val p = hp(pointerPath(root))
    var cur = if (f.exists(p)) readSmallFile(f, p).trim.toLong else 0L
    while (f.exists(hp(manifestPath(root, cur + 1)))) cur += 1
    if (cur == 0) None else Some(cur)
  }

  /** All retained (readable) versions, ascending. */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val f = fsFor(spark, root)
    val md = hp(s"$root/_manifests")
    if (!f.exists(md)) Nil
    else f.listStatus(md).map(_.getPath.getName)
      .filter(_.startsWith("v")).map(_.drop(1).toLong).sorted.toSeq
  }

  /** A parsed manifest: the file list plus the version's RECORDED
    * union schema (first line `#schema=<json>`). Recording the schema
    * at commit time makes every read O(1) in metadata — no
    * footer-sampling, no distributed mergeSchema job over all files —
    * and makes ANY file subset (partition-scoped rewrites,
    * readPartitionsRange) read with the same deterministic schema even when
    * the version mixes pre- and post-evolution batches. Manifests
    * written before the schema line existed read via the mergeSchema
    * fallback. */
  /** One column's recorded zone (file-level min/max). `tag` is the
    * comparison class — "i" integral (compared as Long), "d" floating
    * (as Double), "s" string (as UTF-8 text, Base64 in the manifest so
    * bounds can never collide with the line grammar), "date" (epoch
    * days) and "ts" (instant epoch micros) for the time columns a
    * warehouse range-scans most (both recorded via timezone-free
    * conversions, so a session-TZ change between writer and reader
    * cannot shift the bounds; TIMESTAMP_NTZ is deliberately NOT
    * recorded — its instant meaning depends on the session zone).
    * Bounds are over NON-NULL values only; a file whose column is
    * entirely NULL (or a type outside these classes) records nothing
    * and is always kept — absence means "cannot prune", never
    * "empty". */
  /** In addition to the min/max classes, tag "b" records a per-file
    * BLOOM FILTER (VERDICT r17 next-#4 / PLANS r18 candidate): min/max
    * zones cannot prune a POINT lookup on a high-cardinality column
    * whose values are hash-scattered across files (every file's range
    * spans the probe). The bloom class can: `lo` = the hash-row count
    * kh, `hi` = Base64url of the m-bit bitset (big-endian longs), bits
    * set by the [[graft.operators.BloomJoin]] hash family
    * h_j(x) = md5Long(j|render(x)) % m over the column's Spark
    * string rendering — replayed host-side via
    * [[graft.expressions.HashExpressions.md5Long60]], the engine-
    * deterministic md5 convention every graft sketch uses. A "b" zone
    * prunes ONLY an exact point probe (lo == hi, integral or string);
    * ranges keep the file. Blooms are recorded only for columns named
    * in the table's `_bloom` config ([[setBloomColumns]]) — an 8 KiB
    * sidecar per (file, column) is an index DDL decision, not a
    * default. */
  private[pipeline] final case class Zone(tag: String, lo: String, hi: String) {
    def intersects(qLo: Any, qHi: Any): Boolean = tag match {
      case "i" =>
        val (l, h) = (toL(qLo), toL(qHi))
        !(hi.toLong < l || lo.toLong > h)
      case "date" =>
        val (l, h) = (toEpochDay(qLo), toEpochDay(qHi))
        !(hi.toLong < l || lo.toLong > h)
      case "ts" =>
        val (l, h) = (toEpochMicros(qLo), toEpochMicros(qHi))
        !(hi.toLong < l || lo.toLong > h)
      case "d" =>
        val (l, h) = (toD(qLo), toD(qHi))
        !(hi.toDouble < l || lo.toDouble > h)
      case "s" =>
        // UTF-8 byte order, NOT Java's UTF-16 code-unit order: Spark's
        // string min/max and filters compare binary UTF-8, and the two
        // orders DISAGREE for supplementary characters (surrogates sort
        // below U+E000..U+FFFF in UTF-16) — a Java compare here could
        // wrongly skip a file containing matching rows
        val (l, h) = (utf8(qLo.toString), utf8(qHi.toString))
        utf8Leq(l, utf8(deb64(hi))) && utf8Leq(utf8(deb64(lo)), h)
      case "b" =>
        (canonPoint(qLo), canonPoint(qHi)) match {
          case (Some(a), Some(b)) if a == b =>
            val kh = lo.toInt
            val bytes = java.util.Base64.getUrlDecoder.decode(hi)
            val words = new Array[Long](bytes.length / 8)
            var i = 0
            while (i < bytes.length) {
              words(i / 8) = (words(i / 8) << 8) | (bytes(i) & 0xffL)
              i += 1
            }
            val m = words.length * 64L
            val md = graft.expressions.HashExpressions.localMd5.get()
            (0 until kh).forall { j =>
              val pos = graft.expressions.HashExpressions.md5Long60(md,
                s"$j|$a".getBytes("UTF-8")) % m
              (words((pos / 64).toInt) >>> (pos % 64).toInt & 1L) == 1L
            }
          case _ => true // a range (or unsupported type) never bloom-prunes
        }
      case _ => true // forward-compat: unknown tag never prunes
    }
    // the probe value's Spark-string rendering — must match the write
    // side's cast(col as string) EXACTLY, so only types whose toString
    // does are eligible; anything else keeps the file
    private def canonPoint(x: Any): Option[String] = x match {
      case s: String => Some(s)
      case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
           _: java.lang.Byte => Some(String.valueOf(x))
      case _ => None
    }
    private def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")
    private def utf8Leq(a: Array[Byte], b: Array[Byte]): Boolean = {
      var i = 0
      while (i < a.length && i < b.length) {
        val (ai, bi) = (a(i) & 0xff, b(i) & 0xff)
        if (ai != bi) return ai < bi
        i += 1
      }
      a.length <= b.length
    }
    private def toL(x: Any): Long = x match {
      case n: Number => n.longValue()
      case other => throw new IllegalArgumentException(
        s"zone-map range bound $other is not integral")
    }
    private def toD(x: Any): Double = x match {
      case n: Number => n.doubleValue()
      case other => throw new IllegalArgumentException(
        s"zone-map range bound $other is not numeric")
    }
    private def toEpochDay(x: Any): Long = x match {
      case d: java.sql.Date =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong
      case d: java.time.LocalDate => d.toEpochDay
      case other => throw new IllegalArgumentException(
        s"zone-map range bound $other is not a date (use " +
          "java.sql.Date or java.time.LocalDate)")
    }
    // bounds MUST convert exactly as Catalyst converts the residual
    // filter's literal (DateTimeUtils): java.sql.Timestamp goes
    // through the field-preserving hybrid-calendar rebase, NOT
    // toInstant — the two differ for pre-Gregorian/pre-standard-zone
    // values, and a divergence here could prune a file the filter
    // would match (review r16 s2, the UTF-8 lesson again)
    private def toEpochMicros(x: Any): Long = x match {
      case t: java.sql.Timestamp =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t)
      case i: java.time.Instant =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i)
      case other => throw new IllegalArgumentException(
        s"zone-map range bound $other is not an instant (use " +
          "java.sql.Timestamp or java.time.Instant)")
    }
  }

  private def b64(s: String): String = java.util.Base64.getUrlEncoder
    .withoutPadding.encodeToString(s.getBytes("UTF-8"))
  private def deb64(s: String): String =
    new String(java.util.Base64.getUrlDecoder.decode(s), "UTF-8")

  // zones: per file, per column, EVERY recorded zone (a column may
  // carry both a min/max class and a bloom "b" class — r18); a file is
  // pruned when ANY of its zones proves the probe cannot match
  private case class Manifest(files: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType],
      zones: Map[String, Map[String, Seq[Zone]]] = Map.empty)

  /** Raw manifest lines of a retained version — [[PublishSet]] parses
    * its own (table → version) grammar from these. */
  private[pipeline] def manifestLines(spark: SparkSession, root: String,
                                      v: Long): Seq[String] = {
    val f = fsFor(spark, root)
    val p = hp(manifestPath(root, v))
    require(f.exists(p), s"version $v of $root is not retained (pruned?)")
    readSmallFile(f, p).split("\n").map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** Manifest existence probe (no read) — [[PublishSet.publish]]
    * validates every named member version before committing the set. */
  private[pipeline] def manifestExists(spark: SparkSession, root: String,
                                       v: Long): Boolean =
    fsFor(spark, root).exists(hp(manifestPath(root, v)))

  private def manifest(spark: SparkSession, root: String, v: Long): Manifest = {
    val lines = manifestLines(spark, root, v)
    val (schemaLines, rest) = lines.partition(_.startsWith("#schema="))
    val (zmLines, files) = rest.partition(_.startsWith("#zm="))
    val schema = schemaLines.headOption.map(l =>
      org.apache.spark.sql.types.DataType.fromJson(
        l.stripPrefix("#schema=")).asInstanceOf[org.apache.spark.sql.types.StructType])
    // #zm=<relpath>\t<col>\t<tag>\t<lo>\t<hi> — one line per (file,
    // column) zone; malformed lines are IGNORED (a zone map can only
    // skip work, so losing one means keeping a file, never wrong
    // rows). Parsability of the bounds is checked HERE so a corrupted
    // line can never surface later as a NumberFormatException inside a
    // read (review r16).
    def wellFormed(z: Zone): Boolean = z.tag match {
      case "i" | "date" | "ts" =>
        z.lo.toLongOption.isDefined && z.hi.toLongOption.isDefined
      case "d" => z.lo.toDoubleOption.isDefined && z.hi.toDoubleOption.isDefined
      case "s" => scala.util.Try { deb64(z.lo); deb64(z.hi) }.isSuccess
      case "b" => z.lo.toIntOption.exists(_ >= 1) && scala.util.Try {
        java.util.Base64.getUrlDecoder.decode(z.hi)
      }.toOption.exists(b => b.nonEmpty && b.length % 8 == 0)
      case _ => true // unknown tag: Zone.intersects never prunes on it
    }
    val zones = zmLines.flatMap { l =>
      l.stripPrefix("#zm=").split("\t", -1) match {
        case Array(f, c, tag, lo, hi) =>
          Some(Zone(tag, lo, hi)).filter(wellFormed).map(z => (f, c, z))
        case _ => None
      }
    }.groupBy(_._1).map { case (f, es) =>
      f -> es.groupBy(_._2).map { case (c, zs) => c -> zs.map(_._3).toSeq }
    }
    Manifest(files, schema, zones)
  }

  // read a concrete file list under a version's recorded schema: one
  // consistent result for ANY subset of the version's files
  private def readFiles(spark: SparkSession, root: String,
                        m: Manifest, files: Seq[String]): DataFrame =
    m.schema match {
      case Some(sc) if files.isEmpty =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sc)
      case Some(sc) =>
        spark.read.schema(sc)
          .parquet(files.map(f => s"${dataRoot(root)}/$f"): _*)
      case None => // legacy manifest: deterministic union via mergeSchema
        spark.read.option("mergeSchema", "true")
          .parquet(files.map(f => s"${dataRoot(root)}/$f"): _*)
    }

  /** Read the CURRENT version. The pointer is resolved here, once: the
    * returned DataFrame is bound to version-immutable files and stays
    * consistent across any number of concurrent commits. */
  def read(spark: SparkSession, root: String): DataFrame =
    readVersion(spark, root, currentVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(s"no versioned table at $root")))

  /** Time travel: read a specific retained version. Explicit file
    * list, NO basePath (files carry every column — the __pp_* dirs are
    * a pruning index, not a schema source), under the manifest's
    * recorded union schema: deterministic across mixed-evolution
    * batches, pre-evolution rows read as NULL, zero footer-sampling. */
  def readVersion(spark: SparkSession, root: String, v: Long): DataFrame = {
    val m = manifest(spark, root, v)
    readFiles(spark, root, m, m.files)
  }

  // the partition-pruned file subset of a manifest — ONE
  // implementation for every partition-scoped read, with the loud
  // layout contract of merge/deleteKeys (ADVICE r12): a column not in
  // the stored layout, a NULL, or a type whose rendering diverges from
  // Spark's partition paths would silently match zero files and return
  // an empty frame — throw instead
  private def partitionFiles(m: Manifest, root: String, what: String,
                             pCol: String, values: Seq[Any]): Seq[String] = {
    require(m.files.isEmpty || layoutOf(m.files).contains(pCol),
      s"$what: '$pCol' is not a partition column of $root " +
        s"(stored layout ${layoutOf(m.files).mkString("[", ",", "]")})")
    val keys = values.map(x => partitionKey(pCol, x))
    m.files.filter(f => keys.exists(k => f.contains("/" + k)))
  }

  // zone-map file pruning: keep a file unless its recorded zone for
  // the column PROVES [lo, hi] cannot match (absent zone = keep)
  private def zoneKeep(m: Manifest, files: Seq[String], colName: String,
                       lo: Any, hi: Any): Seq[String] =
    files.filter(f => m.zones.get(f).flatMap(_.get(colName))
      .forall(_.forall(_.intersects(lo, hi))))

  // the __pp_* partition-dir chain of a relative file path ("" for an
  // unpartitioned file) — the grouping key of the dir-level zones
  private[pipeline] def partChainOf(f: String): String =
    f.split("/").filter(_.startsWith("__pp_")).mkString("/")

  // PARTITION-DIR bloom pruning (r18, PLANS round-19 candidate): a
  // pre-pass over the file list that consults the "@part/<chain>"
  // union zones commit() records — the bit-OR of every member file's
  // "b" bloom. One probe per DIR decides all its files at once, so a
  // point lookup on a column correlated with the partition layout
  // (tenant/customer shards) skips whole dirs without decoding a
  // single per-file zone — at a million files that is P dir probes
  // instead of F file probes, and on split-manifest stores the
  // skipped dirs' per-file sections need not even be read. Absent or
  // non-"b" dir zones keep everything (conservative, same contract as
  // zoneKeep); correctness never depends on this pass because every
  // read re-applies its predicate to surviving rows.
  private def dirKeep(m: Manifest, files: Seq[String], colName: String,
                      lo: Any, hi: Any): Seq[String] = {
    val cache = scala.collection.mutable.Map.empty[String, Boolean]
    files.filter { f =>
      val chain = partChainOf(f)
      chain.isEmpty || cache.getOrElseUpdate(chain,
        m.zones.get(s"@part/$chain").flatMap(_.get(colName))
          .forall(_.forall(_.intersects(lo, hi))))
    }
  }

  /** Prune attribution of one range/point scan — the ops introspection
    * behind the dir-level bloom class (and the spec hook proving the
    * hierarchy: dir unions first, per-file zones only on survivors). */
  final case class PruneStats(filesTotal: Int, dirsTotal: Int,
      dirsBloomPruned: Int, filesDirPruned: Int, filesZonePruned: Int,
      filesKept: Int)

  /** [[rangeFiles]] with per-level prune attribution: how many whole
    * partition dirs the "@part" bloom unions skipped, then how many of
    * the surviving files the per-file zones skipped.
    * Declared by README row "Round-18 ext": `rangeFileStats` prune
    * attribution. */
  def rangeFileStats(spark: SparkSession, root: String, colName: String,
                     lo: Any, hi: Any): (Seq[String], PruneStats) = {
    val v = currentVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(s"no versioned table at $root"))
    val m = manifest(spark, root, v)
    val chains = m.files.map(partChainOf).filter(_.nonEmpty).distinct
    val afterDir = dirKeep(m, m.files, colName, lo, hi)
    val kept = zoneKeep(m, afterDir, colName, lo, hi)
    val liveChains = afterDir.map(partChainOf).toSet
    (kept, PruneStats(m.files.length, chains.length,
      chains.count(!liveChains.contains(_)),
      m.files.length - afterDir.length, afterDir.length - kept.length,
      kept.length))
  }

  /** Files of the current version a `colName BETWEEN lo AND hi` scan
    * must read, after zone-map pruning — the introspection behind
    * [[readRange]] (and an ops tool: "how many files does this filter
    * touch"). Conservative by construction: a file without a recorded
    * zone for `colName` is always included. */
  def rangeFiles(spark: SparkSession, root: String, colName: String,
                 lo: Any, hi: Any): Seq[String] = {
    val v = currentVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(s"no versioned table at $root"))
    val m = manifest(spark, root, v)
    zoneKeep(m, dirKeep(m, m.files, colName, lo, hi), colName, lo, hi)
  }

  /** Range read with FILE-LEVEL zone-map skipping (VERDICT r15
    * next-#7): the manifest's per-file min/max lets a second-column
    * range predicate skip whole files the partition key cannot prune —
    * the scan-side payoff Iceberg/Delta get from file stats, at
    * manifest level so no footer is opened for a skipped file. The
    * predicate is ALSO applied to the surviving rows, so pruning is
    * purely a cost optimization — results are identical to filtering
    * [[read]]. Bounds are inclusive and must be non-null and
    * comparable in the column's zone class: integral, floating,
    * string, date (java.sql.Date / LocalDate), or instant timestamp
    * (java.sql.Timestamp / Instant). */
  def readRange(spark: SparkSession, root: String, colName: String,
                lo: Any, hi: Any): DataFrame = {
    val v = currentVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(s"no versioned table at $root"))
    val m = manifest(spark, root, v)
    readFiles(spark, root, m,
        zoneKeep(m, dirKeep(m, m.files, colName, lo, hi), colName, lo, hi))
      .filter(col(colName) >= lit(lo) && col(colName) <= lit(hi))
  }

  /** Point-lookup read (r18): [[readRange]] with lo == hi, which is the
    * shape the "b" BLOOM zones prune — on a high-cardinality column
    * whose values are hash-scattered across files, every file's min/max
    * spans the probe and only the bloom can skip (the q66 gate; the
    * spec asserts both facts). Same residual-filter guarantee: pruning
    * is a cost optimization, results == filtering [[read]]. */
  def readPoint(spark: SparkSession, root: String, colName: String,
                value: Any): DataFrame =
    readRange(spark, root, colName, value, value)

  /** Manifest-level partition pruning — read only the files of the
    * current version whose `__pp_<col>=` dir key is in `values`, the
    * scan-side payoff of the duplicated partition key — composed with
    * [[readRange]]'s zone-map skip:
    * partition-dir pruning on the bucket key, then file-level min/max
    * pruning on a SECOND column inside the surviving partitions — the
    * two indexes a warehouse scan wants together (e.g. tenant dirs ×
    * time range). Same residual-filter guarantee as [[readRange]]. */
  def readPartitionsRange(spark: SparkSession, root: String,
                          pCol: String, values: Seq[Any],
                          colName: String, lo: Any, hi: Any): DataFrame = {
    val v = currentVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(s"no versioned table at $root"))
    val m = manifest(spark, root, v)
    val pFiles = partitionFiles(m, root, "readPartitionsRange", pCol, values)
    readFiles(spark, root, m,
        zoneKeep(m, dirKeep(m, pFiles, colName, lo, hi), colName, lo, hi))
      .filter(col(colName) >= lit(lo) && col(colName) <= lit(hi))
  }

  // relative paths of every parquet file under a batch dir
  private def listRelative(f: org.apache.hadoop.fs.FileSystem,
                           root: String, batch: String): Seq[String] = {
    val base = hp(s"${dataRoot(root)}/$batch")
    def rec(p: org.apache.hadoop.fs.Path): Seq[String] =
      f.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) rec(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet"))
          Seq(st.getPath.toString.stripPrefix(
            f.makeQualified(hp(dataRoot(root))).toString).stripPrefix("/"))
        else Nil
      }
    rec(f.makeQualified(base))
  }

  // unique batch-dir name per ATTEMPT (not per version): two optimistic
  // writers racing the same version slot must never stage into the same
  // dir — the old fixed b<v> name let the loser's heal-delete trash the
  // winner's staged files. Lost-race dirs are swept by prune.
  private def uniqueBatchName(v: Long): String =
    s"b${v}_${java.util.UUID.randomUUID.toString.take(8)}"

  // stage a DataFrame under an attempt-unique batch dir, return its files
  private def stageBatch(spark: SparkSession, root: String, batch: String,
                         df: DataFrame, partitionBy: Seq[String]): Seq[String] = {
    val f = fsFor(spark, root)
    val dir = s"${dataRoot(root)}/$batch"
    if (partitionBy.isEmpty) df.write.parquet(dir)
    else {
      // duplicate the partition cols into __pp_* dir keys so the data
      // files RETAIN every column (explicit-file reads skip inference)
      val dup = partitionBy.foldLeft(df)((d, c) =>
        d.withColumn(s"__pp_$c", col(c)))
      dup.write.partitionBy(partitionBy.map(c => s"__pp_$c"): _*).parquet(dir)
    }
    listRelative(f, root, batch)
  }

  // stage + commit one optimistic attempt; a lost CAS deletes the
  // attempt's staged dir before the conflict reaches the retry loop
  private def stageAndCommit(spark: SparkSession, root: String, v: Long,
                             df: DataFrame, partitionBy: Seq[String],
                             keep: Seq[String],
                             schema: Option[org.apache.spark.sql.types.StructType])
      : Unit = {
    val batch = uniqueBatchName(v)
    val fresh = stageBatch(spark, root, batch, df, partitionBy)
    try commit(spark, root, v, keep ++ fresh, schema, keptHint = keep.toSet)
    catch { case e: VersionConflictException =>
      fsFor(spark, root).delete(hp(s"${dataRoot(root)}/$batch"), true)
      throw e
    }
  }

  // the COMMIT: an atomic PUT-IF-ABSENT of version v's manifest (the
  // linearization point — whoever materializes `_manifests/v<N>` first
  // owns N), then the pointer cache via an ATOMIC overwrite rename.
  // The manifest content is fully written to a tmp file BEFORE the
  // atomic publish, so no reader ever sees a torn manifest. A lost
  // put-if-absent throws VersionConflictException for the mutators'
  // retry loops. A stale-read fast-path check precedes the CAS: if the
  // healed current version already moved past v-1, the attempt's
  // content is based on superseded state and must be recomputed even
  // if slot v were somehow still free (pointer tampering).
  private def commit(spark: SparkSession, root: String, v: Long,
                     files: Seq[String],
                     schema: Option[org.apache.spark.sql.types.StructType],
                     keptHint: Set[String] = Set.empty): Unit = {
    // FILE-LEVEL ZONE MAPS (VERDICT r15 next-#7): record min/max per
    // supported non-partition column for every file the prior manifest
    // does not already cover — ONE aggregation over the fresh batch,
    // never the table, so commit cost stays O(staged data). Kept files
    // inherit their recorded zones verbatim (they are immutable, so
    // the bounds can never go stale); legacy kept files without zones
    // simply stay unprunable.
    // Inheritance searches retained manifests newest-first only until
    // every file the caller KEPT is accounted for (`keptHint` —
    // stageAndCommit's keep list; rollback passes the whole restored
    // list): fresh batch files appear in no older manifest, so
    // terminating on `files` instead would read EVERY retained
    // manifest on EVERY commit (review r16). A file merely PRESENT in
    // a retained manifest is known even with no recorded zone (legacy)
    // — it stays unprunable rather than triggering a table-sized stats
    // scan. A manifest pruned by a concurrent cross-process GC between
    // the listing and the read is SKIPPED SILENTLY (the expected race:
    // the file vanishes); any OTHER read failure — a transient FS
    // error, a permission flap — is ALSO skipped (a zone map must
    // never fail a data commit) but logged, because the pruning it
    // silently forfeits is inherited forward by every later commit and
    // would otherwise degrade invisibly (ADVICE r16).
    var inherited = Map.empty[String, Map[String, Seq[Zone]]]
    var known = Set.empty[String]
    val todo = files.toSet
    val older = versions(spark, root).filter(_ < v).sorted.reverse.iterator
    while (!keptHint.subsetOf(known) && older.hasNext) {
      val ov = older.next()
      try {
        val m = manifest(spark, root, ov)
        inherited = m.zones.view.filterKeys(f =>
          todo.contains(f) && !inherited.contains(f)).toMap ++ inherited
        known ++= m.files
      } catch {
        // benign prune race: manifestLines' retention require, or the
        // file vanishing between the exists probe and the open
        case _: IllegalArgumentException | _: java.io.FileNotFoundException =>
          ()
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[versioned-table] WARN zone inheritance " +
            s"skipped manifest v$ov of $root (${e.getClass.getSimpleName}: " +
            s"${e.getMessage}) — kept files lose their zones on v$v " +
            "(results stay exact; pruning degrades)")
      }
    }
    val freshZones = computeZones(spark, root,
      files.filterNot(f => known.contains(f) || keptHint.contains(f)))
    val zones = files.flatMap { f =>
      freshZones.get(f).orElse(inherited.get(f)).map(f -> _)
    }
    val zmLines = for {
      (f, cz) <- zones.sortBy(_._1)
      (c, zs) <- cz.toSeq.sortBy(_._1)
      z <- zs.sortBy(_.tag)
    } yield s"#zm=$f\t$c\t${z.tag}\t${z.lo}\t${z.hi}"
    // PARTITION-LEVEL BLOOM UNION (r18): for every partition-dir chain
    // whose member files ALL carry a "b" zone for a column (same kh,
    // same width), record the bit-OR under the synthetic key
    // "@part/<chain>" — the dir-level index dirKeep consults. Derived
    // DRIVER-SIDE from the per-file zones already in hand (no data
    // scan), and recomputed from scratch on every commit because a
    // merge changes dir membership (a stale union would over-keep,
    // never mis-prune, but recomputation is O(files) string work). A
    // dir with ANY bloom-less member (legacy kept file, pre-config
    // batch) gets NO union — that member could hold the probe value.
    val fileZones = zones.toMap
    val dirZmLines = files.groupBy(partChainOf).toSeq
      .filter(_._1.nonEmpty).sortBy(_._1).flatMap { case (chain, fs) =>
        val blooms = fs.map(f => fileZones.get(f).map(_.collect {
          case (c, zs) => c -> zs.filter(_.tag == "b")
        }.filter(_._2.nonEmpty)))
        if (blooms.exists(_.isEmpty)) Nil
        else {
          val perFile = blooms.map(_.get)
          perFile.map(_.keySet).reduce(_ intersect _).toSeq.sorted.flatMap { c =>
            val zs = perFile.map(_(c).head)
            val khs = zs.map(_.lo).distinct
            val arrays = zs.map(z =>
              java.util.Base64.getUrlDecoder.decode(z.hi))
            if (khs.length != 1 || arrays.map(_.length).distinct.length != 1) None
            else {
              val u = new Array[Byte](arrays.head.length)
              arrays.foreach { a =>
                var i = 0
                while (i < u.length) { u(i) = (u(i) | a(i)).toByte; i += 1 }
              }
              Some(s"#zm=@part/$chain\t$c\tb\t${khs.head}\t${
                java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(u)}")
            }
          }
        }
      }
    commitText(spark, root, v,
      (schema.map(sc => s"#schema=${sc.json}").toSeq ++ zmLines ++
        dirZmLines ++ files).mkString("\n"))
  }

  /** Per-file min/max of every zone-mappable column of the FRESH batch:
    * integrals ("i"), float/double ("d"), strings ("s", Base64-framed),
    * dates ("date", epoch days) and instant timestamps ("ts", epoch
    * micros). TIMESTAMP_NTZ/decimals/nested types and the duplicated
    * __pp_* keys are skipped (NTZ has no session-zone-free instant
    * form). Attribution is by full relative-path suffix of the
    * decoded input-file URI — terminal names alone COLLIDE when one
    * task writes the same part-N file into several __pp_* dirs;
    * anything unattributable — and any failure at all — just records
    * no zone, because an absent zone only costs pruning, never
    * correctness. */
  private def computeZones(spark: SparkSession, root: String,
                           rels: Seq[String])
      : Map[String, Map[String, Seq[Zone]]] =
    if (rels.isEmpty) Map.empty
    else try {
      import org.apache.spark.sql.types._
      // terminal name → candidate rel paths (bucketing the suffix scan)
      val byName = rels.groupBy(_.split("/").last)
      def relOf(fileUri: String): Option[String] = {
        val p = try new java.net.URI(fileUri).getPath
                catch { case _: Exception => fileUri }
        byName.getOrElse(p.split("/").last, Nil)
          .find(rel => p.endsWith("/" + rel))
      }
      def tagOf(dt: DataType): Option[String] = dt match {
        case ByteType | ShortType | IntegerType | LongType => Some("i")
        case FloatType | DoubleType => Some("d")
        case StringType => Some("s")
        case DateType => Some("date")
        case TimestampType => Some("ts") // NTZ skipped: session-TZ-relative
        case _ => None
      }
      // time columns are recorded through TIMEZONE-FREE conversions
      // (epoch days / instant micros), never a rendered string — a
      // writer and reader in different session zones must agree
      def valueExpr(f: StructField): org.apache.spark.sql.Column =
        tagOf(f.dataType).get match {
        case "date" => unix_date(col(f.name)).cast(LongType)
        case "ts" => unix_micros(col(f.name))
        case _ => col(f.name)
      }
      val df = spark.read.parquet(rels.map(r => s"${dataRoot(root)}/$r"): _*)
      // a control char in a column name would break the line-oriented
      // tab-separated grammar (a \n would even split the line and leak
      // its tail back in as a phantom FILE path) — skip such columns
      val cols = df.schema.fields
        .filter(f => !f.name.startsWith("__pp_")
          && !f.name.exists(c => c == '\t' || c == '\n' || c == '\r')
          && tagOf(f.dataType).isDefined)
      if (cols.isEmpty) Map.empty
      else {
        val aggs = cols.toSeq.flatMap(f =>
          Seq(min(valueExpr(f)), max(valueExpr(f))))
        val rows = df.groupBy(input_file_name().as("__f"))
          .agg(aggs.head, aggs.tail: _*).collect()
        val minMax: Map[String, Map[String, Seq[Zone]]] = rows.flatMap { r =>
          relOf(r.getString(0)).map { rel =>
            rel -> cols.zipWithIndex.flatMap { case (f, i) =>
              val (lo, hi) = (r.get(1 + 2 * i), r.get(2 + 2 * i))
              if (lo == null || hi == null) None
              else tagOf(f.dataType).map {
                case t @ ("i" | "date" | "ts") => f.name -> Seq(Zone(t,
                  lo.asInstanceOf[Number].longValue.toString,
                  hi.asInstanceOf[Number].longValue.toString))
                case "d" => f.name -> Seq(Zone("d",
                  lo.asInstanceOf[Number].doubleValue.toString,
                  hi.asInstanceOf[Number].doubleValue.toString))
                case _ =>
                  f.name -> Seq(Zone("s", b64(lo.toString), b64(hi.toString)))
              }
            }.toMap
          }
        }.toMap
        // BLOOM ("b") zones for the columns the table's _bloom config
        // names (r18): one distributed bit-OR aggregation per fresh
        // batch — positions by the BloomJoin md5 hash family over the
        // column's string rendering, words assembled driver-side.
        // Collected volume is bounded: |files| × |bloom cols| × m/64
        // longs. Only integral/string classes participate (their
        // rendering is replayable at probe time).
        val bloomWanted = bloomColumns(spark, root).toSet
        val bCols = cols.filter(f => bloomWanted.contains(f.name) &&
          tagOf(f.dataType).exists(t => t == "i" || t == "s")).toSeq
        if (bCols.isEmpty) minMax
        else {
          val posRows = bCols.map { f =>
            df.filter(col(f.name).isNotNull)
              .select(input_file_name().as("__f"), lit(f.name).as("__c"),
                explode(array((0 until bloomKh).map(j =>
                  pmod(graft.functions.GraftFunctions.md5Long(
                    col(f.name).cast(StringType), j),
                    lit(bloomBits.toLong))): _*)).as("pos"))
          }.reduce(_ unionByName _)
            .select(col("__f"), col("__c"), expr("pos div 64").as("w"),
              call_function("shiftleft", lit(1L),
                (col("pos") % 64).cast("int")).as("bit"))
            .groupBy("__f", "__c", "w").agg(bit_or(col("bit")).as("bits"))
            .collect()
          val blooms = posRows.groupBy(r => (r.getString(0), r.getString(1)))
            .flatMap { case ((uri, c), ws) =>
              relOf(uri).map { rel =>
                val words = new Array[Long](bloomBits / 64)
                ws.foreach(r => words(r.getLong(2).toInt) = r.getLong(3))
                val bytes = new Array[Byte](words.length * 8)
                var i = 0
                while (i < bytes.length) {
                  bytes(i) = (words(i / 8) >>> (56 - 8 * (i % 8))).toByte
                  i += 1
                }
                (rel, c, Zone("b", bloomKh.toString,
                  java.util.Base64.getUrlEncoder.withoutPadding
                    .encodeToString(bytes)))
              }
            }.toSeq
          blooms.groupBy(_._1).foldLeft(minMax) { case (acc, (rel, bs)) =>
            val base = acc.getOrElse(rel, Map.empty)
            acc.updated(rel, bs.foldLeft(base) { case (cz, (_, c, z)) =>
              cz.updated(c, cz.getOrElse(c, Nil) :+ z)
            })
          }
        }
      }
    } catch { case scala.util.control.NonFatal(e) =>
      // a zone map is a pure pruning index — never let its computation
      // fail a data commit
      System.err.println(s"[versioned] zone-map compute skipped: $e")
      Map.empty
    }

  /** The bare manifest-text commit — the SAME linearization point
    * ([[commit]]'s Scaladoc) with caller-supplied content. Shared with
    * [[PublishSet]], whose registry versions are manifests of
    * (table → version) lines rather than file lists: one CAS
    * implementation, two manifest grammars (the r13-s3 review rule —
    * never copy the commit plumbing). */
  private[pipeline] def commitText(spark: SparkSession, root: String,
                                   v: Long, content: String): Unit = {
    val now = currentVersion(spark, root).getOrElse(0L)
    if (now != v - 1) throw new VersionConflictException(
      s"planned version $v of $root but current advanced to $now")
    val f = fsFor(spark, root)
    val tmp = hp(s"$root/_manifests/.tmp_" +
      java.util.UUID.randomUUID.toString.take(12))
    writeSmallFile(f, tmp, content) // create() makes parent dirs
    val dst = f.makeQualified(hp(manifestPath(root, v)))
    val won =
      if (dst.toUri.getScheme == "file")
        // POSIX put-if-absent: link(2) fails EEXIST atomically (nio
        // rename without REPLACE_EXISTING is a non-atomic exists-check
        // + rename(2), and rename(2) itself silently overwrites)
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dst.toUri),
            java.nio.file.Paths.get(f.makeQualified(tmp).toUri))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      else
        // HDFS: rename WITHOUT Rename.OVERWRITE fails on an existing
        // destination, atomically at the namenode
        try {
          val fc = org.apache.hadoop.fs.FileContext.getFileContext(
            dst.toUri, spark.sparkContext.hadoopConfiguration)
          fc.rename(fc.makeQualified(tmp), dst)
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case e: java.io.IOException
            if e.getMessage != null && e.getMessage.contains("already exists")
            => false
        }
    f.delete(tmp, false) // link path: drop the second name; rename path: no-op
    if (!won) throw new VersionConflictException(
      s"version $v of $root was committed by a concurrent writer")
    // advance the pointer CACHE (atomic overwrite rename); skip if a
    // faster writer already advanced it further — with the remaining
    // A-commits-6/B-commits-7/B-renames/A-renames interleave healed by
    // currentVersion's forward probe
    if (currentPointer(f, root).forall(_ < v))
      atomicOverwriteText(spark, pointerPath(root), v.toString)
    ()
  }

  // raw pointer-cache value (no healing) — only for the advance guard
  private def currentPointer(f: org.apache.hadoop.fs.FileSystem,
                             root: String): Option[Long] = {
    val p = hp(pointerPath(root))
    if (f.exists(p)) Some(readSmallFile(f, p).trim.toLong) else None
  }

  /** Partition-dir key of one value, rendered EXACTLY as the staged
    * write renders it. Restricted to types whose toString matches
    * Spark's partition-path encoding (strings, integrals, boolean,
    * date); timestamps (Spark renders `2020-01-01 00%3A00%3A00`, JDBC
    * toString appends `.0`) and NULLs (`__HIVE_DEFAULT_PARTITION__`)
    * would silently match NOTHING in the manifest — old rows would
    * survive a merge as duplicate keys — so they fail loudly here. */
  private def partitionKey(c: String, x: Any): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    require(x != null,
      s"null partition value for '$c': the versioned layer cannot match " +
        "Spark's __HIVE_DEFAULT_PARTITION__ rendering — filter NULL " +
        "partition keys upstream or use a sentinel value")
    x match {
      case _: String | _: java.lang.Long | _: java.lang.Integer |
           _: java.lang.Short | _: java.lang.Byte | _: java.lang.Boolean |
           _: java.sql.Date | _: java.time.LocalDate =>
        s"__pp_$c=${escapePathName(String.valueOf(x))}/"
      case other => throw new IllegalArgumentException(
        s"unsupported partition-column type ${other.getClass.getName} for " +
          s"'$c': only string/integral/boolean/date render identically to " +
          "Spark's partition paths (timestamps and fractionals do not — " +
          "partition on a derived date/string column instead)")
    }
  }

  // the __pp_* layout recorded in a manifest (ordered), Nil when the
  // manifest is unpartitioned or empty
  private def layoutOf(files: Seq[String]): Seq[String] =
    files.headOption.toSeq.flatMap(_.split("/").toSeq
      .filter(_.startsWith("__pp_")).map(_.split("=")(0).stripPrefix("__pp_")))

  // partition-scoped ops silently match nothing if the stored layout
  // differs from the caller's partitionBy — fail loudly instead
  private def requireLayout(files: Seq[String], partitionBy: Seq[String],
                            what: String): Unit = {
    val stored = layoutOf(files)
    require(files.isEmpty || stored == partitionBy,
      s"$what: stored layout ${stored.mkString("[", ",", "]")} != " +
        s"requested ${partitionBy.mkString("[", ",", "]")} — a mismatched " +
        "partition-scoped rewrite would keep stale rows silently")
  }

  // distinct partition-dir keys of a (bounded) key relation — the
  // affected set a partition-scoped rewrite touches
  private def affectedPartitionKeys(df: DataFrame,
                                    partitionBy: Seq[String]): Set[String] =
    df.select(partitionBy.map(df(_)): _*).distinct().collect().map { r =>
      partitionBy.zipWithIndex.map { case (c, i) =>
        partitionKey(c, r.get(i))
      }.mkString
    }.toSet

  /** Evolution union: prior columns in order, new columns appended;
    * a type CHANGE for an existing column is refused (the versioned
    * layer null-pads, it does not cast history). All fields read as
    * nullable — pre-evolution files lack the new columns. */
  private def unionSchema(prior: org.apache.spark.sql.types.StructType,
                          next: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.StructType
    prior.fields.foreach { f =>
      next.fields.find(_.name == f.name).foreach { g =>
        // nullability-normalized compare, not ==: a containsNull-only
        // difference (an in-memory array<double> built from Seq vs the
        // parquet round trip's nullable-element form) is NOT an
        // evolution — everything is stored nullable below anyway
        require(allNullable(g.dataType) == allNullable(f.dataType),
          s"schema evolution cannot change the type of '${f.name}': " +
            s"${f.dataType.simpleString} -> ${g.dataType.simpleString}")
      }
    }
    val priorNames = prior.fieldNames.toSet
    StructType((prior.fields ++
      next.fields.filterNot(f => priorNames.contains(f.name)))
      .map(f => f.copy(dataType = allNullable(f.dataType), nullable = true)))
  }

  // deep nullability normalization (the private Spark asNullable)
  private def allNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case a: ArrayType =>
        a.copy(elementType = allNullable(a.elementType), containsNull = true)
      case m: MapType => m.copy(keyType = allNullable(m.keyType),
        valueType = allNullable(m.valueType), valueContainsNull = true)
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = allNullable(f.dataType), nullable = true)))
      case other => other
    }
  }

  /** Write a full new version (CTAS / overwrite semantics). Returns the
    * committed version number. */
  def write(spark: SparkSession, root: String, df: DataFrame,
            partitionBy: Seq[String] = Nil): Long = withRootLock(root) {
    withCommitRetries(root, "write") { () =>
      val v = currentVersion(spark, root).getOrElse(0L) + 1
      stageAndCommit(spark, root, v, df, partitionBy, Nil, Some(df.schema))
      v
    }
  }

  /** Delete+insert merge by key (the [[Pipeline.mergeIntoParquet]]
    * semantics, versioned): when the table is partitioned and the
    * partition columns are a subset of the key, the new version reuses
    * every file outside the increment's partitions — O(affected
    * partitions), the property that keeps per-batch upserts viable on
    * a 100 TB relation. Otherwise the merged relation is staged in
    * full. Either way, readers of older versions are untouched. */
  def merge(spark: SparkSession, root: String, increment: DataFrame,
            uniqueKey: Seq[String], partitionBy: Seq[String] = Nil): Long =
      withRootLock(root) {
    require(uniqueKey.nonEmpty, "merge needs a key")
    withCommitRetries(root, "merge") { () =>
      currentVersion(spark, root) match {
        case None =>
          // claim version 1 SPECIFICALLY — not write(), whose CTAS
          // semantics re-read the current version: if a sibling writer
          // lands v1 between this read and the CTAS's, the increment
          // would commit as a v2 TRUNCATING the sibling's rows
          // (observed as a lost update in the two-writer-JVM spec).
          // Losing the v1 race here re-enters the retry loop, which
          // re-reads and dispatches through the real merge branch.
          stageAndCommit(spark, root, 1L, increment, partitionBy, Nil,
            Some(increment.schema))
          1L
        case Some(cur) =>
          val v = cur + 1
          val cm = manifest(spark, root, cur) // one read per attempt
          val existing = readFiles(spark, root, cm, cm.files)
          val newSchema = unionSchema(existing.schema, increment.schema)
          val partitionScoped =
            partitionBy.nonEmpty && partitionBy.forall(uniqueKey.contains)
          if (!partitionScoped) {
            val keySet = increment.select(uniqueKey.map(increment(_)): _*)
              .distinct()
            val merged = existing.join(broadcast(keySet), uniqueKey, "left_anti")
              .unionByName(increment, allowMissingColumns = true)
            stageAndCommit(spark, root, v, merged, partitionBy, Nil,
              Some(newSchema))
          } else {
            requireLayout(cm.files, partitionBy, "merge")
            // affected partition dirs, from the increment (bounded)
            val parts = affectedPartitionKeys(increment, partitionBy)
            def affected(rel: String) = parts.exists(p => rel.contains("/" + p))
            val keep = cm.files.filterNot(affected)
            // rewrite ONLY the affected partitions: their old rows minus
            // keyed hits, plus the increment — read under the version's
            // recorded schema, so a subset mixing pre-/post-evolution
            // files can never sample the wrong footer and drop a column
            val affectedFiles = cm.files.filter(affected)
            val oldAffected =
              if (affectedFiles.isEmpty) None
              else Some(readFiles(spark, root, cm, affectedFiles))
            val keySet = increment.select(uniqueKey.map(increment(_)): _*)
              .distinct()
            val rewritten = oldAffected match {
              case None => increment
              case Some(oa) =>
                oa.join(broadcast(keySet), uniqueKey, "left_anti")
                  // allowMissingColumns: an increment ADDING a column is
                  // the schema-evolution path — survivors null-pad under
                  // the recorded union schema
                  .unionByName(increment, allowMissingColumns = true)
            }
            stageAndCommit(spark, root, v, rewritten, partitionBy, keep,
              Some(newSchema))
          }
          v
      }
    }
  }

  /** Physical deletion by key, versioned ([[Pipeline.deleteKeys]]'s
    * semantics): rewrites only the files holding hit partitions when
    * partitioned-by-key, the whole relation otherwise; older versions
    * retain the deleted rows until pruned (the time-travel window IS
    * the recovery window). Returns the new version, or the current one
    * unchanged when nothing matched. */
  def deleteKeys(spark: SparkSession, root: String, keys: DataFrame,
                 keyCols: Seq[String], partitionBy: Seq[String] = Nil): Long =
      withRootLock(root) {
    require(keyCols.nonEmpty, "deleteKeys needs at least one key column")
    withCommitRetries(root, "deleteKeys") { () =>
      val cur = currentVersion(spark, root).getOrElse(
        throw new IllegalArgumentException(s"no versioned table at $root"))
      val cm = manifest(spark, root, cur) // one read per attempt
      val existing = readFiles(spark, root, cm, cm.files)
      val keySet = keys.select(keyCols.map(keys(_)): _*).distinct()
        .localCheckpoint(false)
      if (existing.join(broadcast(keySet), keyCols, "left_semi").isEmpty) cur
      else {
        val v = cur + 1
        // deletion never changes the schema
        val schema = Some(existing.schema)
        val partitionScoped =
          partitionBy.nonEmpty && partitionBy.forall(keyCols.contains)
        if (!partitionScoped) {
          val kept = existing.join(broadcast(keySet), keyCols, "left_anti")
          stageAndCommit(spark, root, v, kept, partitionBy, Nil, schema)
        } else {
          requireLayout(cm.files, partitionBy, "deleteKeys")
          val parts = affectedPartitionKeys(keySet, partitionBy)
          def affected(rel: String) = parts.exists(p => rel.contains("/" + p))
          val keep = cm.files.filterNot(affected)
          // recorded-schema read: a mixed-evolution affected subset can
          // never sample the wrong footer and drop a column
          val rewritten = readFiles(spark, root, cm, cm.files.filter(affected))
            .join(broadcast(keySet), keyCols, "left_anti")
          stageAndCommit(spark, root, v, rewritten, partitionBy, keep, schema)
        }
        v
      }
    }
  }

  /** Small-file compaction, versioned ([[Pipeline.compact]]'s
    * semantics): stage the current content as one new coalesced batch,
    * commit as a new version. Readers of the old version keep their
    * old (fragmented) files until pruned. */
  def compact(spark: SparkSession, root: String): Long =
      withRootLock(root) {
    withCommitRetries(root, "compact") { () =>
      val cur = currentVersion(spark, root).getOrElse(
        throw new IllegalArgumentException(s"no versioned table at $root"))
      val f = fsFor(spark, root)
      val cm = manifest(spark, root, cur)
      // PRESERVE the stored layout: compacting a partitioned table into
      // an unpartitioned batch would silently disable every subsequent
      // partition-scoped merge/deleteKeys/readPartitionsRange
      val partitionBy = layoutOf(cm.files)
      val bytes = cm.files
        .map(rel => f.getFileStatus(hp(s"${dataRoot(root)}/$rel")).getLen).sum
      val n = math.max(1,
        math.ceil(bytes.toDouble / Pipeline.CompactTargetFileBytes).toInt)
      val v = cur + 1
      val content = readFiles(spark, root, cm, cm.files)
      stageAndCommit(spark, root, v, content.coalesce(n), partitionBy, Nil,
        Some(content.schema))
      v
    }
  }

  /** A committed version's data files (manifest-relative paths) — the
    * file-level introspection every snapshot store exposes; feeds
    * maintenance decisions and the compaction spec's reuse assertions. */
  def manifestFiles(spark: SparkSession, root: String, v: Long): Seq[String] =
    manifest(spark, root, v).files

  /** The COMMITTED retained versions — [[versions]] minus orphaned
    * manifests beyond the heal gap (the same classification
    * [[prune]] uses: commits claim strictly current+1, so every
    * contiguous manifest above the pointer is real; manifests beyond
    * a gap are unreachable by any commit). The relation a maintenance
    * PLAN must reason over — counting orphans would misstate what a
    * sweep retains. */
  private[pipeline] def committedVersions(spark: SparkSession,
                                          root: String): Seq[Long] = {
    val cur = currentVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(s"no versioned table at $root"))
    val vs = versions(spark, root)
    val healed = Iterator.iterate(cur)(_ + 1)
      .takeWhile(v => v == cur || vs.contains(v)).toSeq.last
    vs.filter(_ <= healed)
  }

  /** PARTITION-SCOPED small-file compaction — the maintenance-cadence
    * form [[compact]] is too blunt for: a per-tick merge rewrites each
    * affected partition with however many shuffle-task files the job
    * had (32 tiny files per touched bucket under the default conf), so
    * a long-running upsert member (the release tick's range-bucketed
    * CHUNKS, the cell-partitioned index) fragments steadily. Full
    * [[compact]] pays O(table) every run; this rewrites ONLY the
    * partitions holding more than `maxFilesPerPartition` files and
    * reuses every other partition's files VERBATIM in the new manifest
    * (the deleteKeys partition-scoped `keep` mechanism) — maintenance
    * cost tracks the fragmentation, not the table.
    *
    * Each fragmented bucket compacts to ONE file (the hash
    * repartition on the partition columns puts a bucket's rows in one
    * task) — this is the DESIRED outcome for merge-task small-file
    * accretion, and it makes the bucket-granularity knob the file-size
    * knob: a bucket whose healthy size exceeds a good parquet file is
    * a layout problem (partition finer), not a compaction problem, and
    * the one-task-per-bucket rewrite of such a bucket would also be a
    * skew hazard. There is deliberately no target file size here
    * ([[compact]]'s coalesce aims at one; a partition-preserving
    * rewrite cannot without splitting buckets).
    *
    * `coldAfterVersions` is the CADENCE POLICY (VERDICT r14
    * missing-#4): a bucket still being merged into every tick (the
    * newest doc-id range bucket, a hot index cell) re-fragments the
    * tick after it is rewritten, so compacting it is wasted I/O that
    * repeats forever. A bucket is COLD once no retained-manifest file
    * in it came from any of the last `coldAfterVersions` versions —
    * the contributing version is parsed from the file's `b<v>_` batch
    * dir, so the gate costs a string scan of the manifest, no
    * filesystem calls. 0 (the default) keeps the pure size trigger.
    * For the release tick's range-bucketed CHUNKS member this is
    * exactly right: fresh monotone ids land only in the newest
    * buckets, so a bucket goes permanently cold once the id range
    * rolls past it — it then compacts ONCE and is never rewritten
    * again.
    *
    * Idempotent: when nothing is fragmented, NO new version is
    * committed and the current version is returned — safe to run on
    * every cadence. Unpartitioned tables are refused loudly (use
    * [[compact]]). Readers of older versions keep their files until
    * [[prune]]. */
  def compactPartitions(spark: SparkSession, root: String,
                        maxFilesPerPartition: Int = 8,
                        coldAfterVersions: Int = 0): Long =
      withRootLock(root) {
    require(maxFilesPerPartition >= 1,
      s"maxFilesPerPartition must be >= 1, got $maxFilesPerPartition")
    require(coldAfterVersions >= 0,
      s"coldAfterVersions must be >= 0, got $coldAfterVersions")
    withCommitRetries(root, "compactPartitions") { () =>
      val cur = currentVersion(spark, root).getOrElse(
        throw new IllegalArgumentException(s"no versioned table at $root"))
      val cm = manifest(spark, root, cur)
      val partitionBy = layoutOf(cm.files)
      require(partitionBy.nonEmpty,
        s"$root is not partitioned - compactPartitions has no partition " +
          "boundary to scope by; use compact()")
      val frag = fragmentedBuckets(cm.files, partitionBy, cur,
        maxFilesPerPartition, coldAfterVersions)
      if (frag.isEmpty) cur
      else {
        val fragFiles = frag.values.flatten.toSeq
        val keep = cm.files.filterNot(fragFiles.toSet)
        val v = cur + 1
        val rewritten = readFiles(spark, root, cm, fragFiles)
          .repartition(frag.size, partitionBy.map(col): _*)
        stageAndCommit(spark, root, v, rewritten, partitionBy, keep,
          cm.schema.orElse(Some(rewritten.schema)))
        v
      }
    }
  }

  /** The bucket selection [[compactPartitions]] and
    * [[compactionReport]] share: manifest files grouped by
    * partition VALUE path (the physical `__pp_<col>=<val>` segments,
    * across batch dirs — two merges of the same bucket land files in
    * two `b<v>_` dirs and both count), filtered to buckets that are
    * both FRAGMENTED (> maxFilesPerPartition files) and COLD (no file
    * contributed by any of the last `coldAfterVersions` versions; the
    * contributing version is the batch dir's `b<v>_` prefix; 0
    * disables the cadence gate). */
  private def fragmentedBuckets(files: Seq[String],
                                partitionBy: Seq[String], cur: Long,
                                maxFilesPerPartition: Int,
                                coldAfterVersions: Int)
      : Map[String, Seq[String]] = {
    def partKey(rel: String): String = rel.split("/")
      .filter(seg =>
        partitionBy.exists(c => seg.startsWith(s"__pp_$c=")))
      .mkString("/")
    def vOfFile(rel: String): Long =
      rel.takeWhile(_ != '/').stripPrefix("b").takeWhile(_.isDigit) match {
        case "" => throw new IllegalStateException(
          s"unversioned batch dir in manifest: $rel")
        case d => d.toLong
      }
    files.groupBy(partKey).filter { case (_, fs) =>
      fs.size > maxFilesPerPartition &&
        (coldAfterVersions == 0 ||
          fs.iterator.map(vOfFile).max <= cur - coldAfterVersions)
    }
  }

  /** ONE-read maintenance introspection for tooling ([[graft.tools
    * .GcMain]]): from a single manifest read, the partition layout,
    * the fragmented buckets [[compactPartitions]] WOULD rewrite at
    * this gate, and the fragmented buckets withheld ONLY by the cold
    * gate (the state a report must surface: fragmentation that exists
    * but was deliberately left — invisible fragmentation in the exact
    * tool meant to show maintenance state is worse than none).
    * Unpartitioned tables return (Nil, total file count) rather than
    * throwing — the CALLER decides whether bucket-scoped compaction
    * was even applicable. */
  case class CompactionReport(layout: Seq[String],
                              wouldCompact: Map[String, Int],
                              withheldHot: Map[String, Int],
                              totalFiles: Int)

  def compactionReport(spark: SparkSession, root: String,
                       maxFilesPerPartition: Int,
                       coldAfterVersions: Int): CompactionReport =
      withRootLock(root) {
    require(maxFilesPerPartition >= 1,
      s"maxFilesPerPartition must be >= 1, got $maxFilesPerPartition")
    require(coldAfterVersions >= 0,
      s"coldAfterVersions must be >= 0, got $coldAfterVersions")
    val cur = currentVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(s"no versioned table at $root"))
    val cm = manifest(spark, root, cur)
    val partitionBy = layoutOf(cm.files)
    if (partitionBy.isEmpty)
      CompactionReport(Nil, Map.empty, Map.empty, cm.files.size)
    else {
      val cold = fragmentedBuckets(cm.files, partitionBy, cur,
        maxFilesPerPartition, coldAfterVersions)
        .map { case (k, fs) => k -> fs.size }
      val all = fragmentedBuckets(cm.files, partitionBy, cur,
        maxFilesPerPartition, 0)
        .map { case (k, fs) => k -> fs.size }
      CompactionReport(partitionBy, cold, all -- cold.keys, cm.files.size)
    }
  }

  /** ROLLBACK: commit a NEW version whose content is retained version
    * `to` — one manifest write referencing `to`'s files verbatim, no
    * data movement (the release-gate undo: a card diff flags a bad
    * publish, rollback restores the previous datasheet's corpus while
    * the bad version stays inspectable in history). Returns the new
    * version number. */
  def rollback(spark: SparkSession, root: String, to: Long): Long =
      withRootLock(root) {
    withCommitRetries(root, "rollback") { () =>
      val cur = currentVersion(spark, root).getOrElse(
        throw new IllegalArgumentException(s"no versioned table at $root"))
      require(to <= cur, s"cannot roll back to unborn version $to (current $cur)")
      val v = cur + 1
      val m = manifest(spark, root, to)
      // no staging to clean up; every file is a keep (zones inherit
      // from the still-retained target manifest, never a data rescan)
      commit(spark, root, v, m.files, m.schema, keptHint = m.files.toSet)
      v
    }
  }

  /** Expire old snapshots: retain the newest `keep` versions' manifests
    * and delete every data file referenced ONLY by expired ones. The
    * bounded-retention contract every snapshot store has — run it on
    * the maintenance cadence, sized to the longest reader.
    *
    * `staleAfterMs` is the orphan age threshold (default 1 h): SIZE IT
    * TO THE LONGEST EXPECTED WRITE STAGE — a live writer whose Spark
    * stage outlives it is exposed, because part files land under
    * `<dir>/_temporary` without refreshing the top-level dir mtime
    * (ADVICE r13). Dirs still holding a `_temporary` child are skipped
    * outright as in-flight writes regardless of age. */
  def prune(spark: SparkSession, root: String, keep: Int = 2,
            staleAfterMs: Long = 3600 * 1000L,
            alsoRetainFrom: Option[Long] = None): Unit =
      withRootLock(root) {
    require(keep >= 1, "must retain at least the current version")
    require(staleAfterMs > 0, "stale threshold must be positive")
    val f = fsFor(spark, root)
    val cur = currentVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(s"no versioned table at $root"))
    val vs = versions(spark, root)
    // Re-heal against THIS listing before classifying anything as an
    // orphan: a cross-process writer can commit cur+1 between the
    // currentVersion() read above and the listing, and a `> cur`
    // partition would then delete a FRESHLY COMMITTED version's
    // manifest and files — a silent lost update (review r13). Commits
    // are claimed strictly at current+1, so every CONTIGUOUS manifest
    // above cur is a real commit; only manifests beyond a gap
    // (tampering/manual deletion — unreachable by any commit) are
    // orphans.
    val healed = Iterator.iterate(cur)(_ + 1)
      .takeWhile(v => v == cur || vs.contains(v)).toSeq.last
    val (committed, orphans) = vs.partition(_ <= healed)
    // `alsoRetainFrom` raises the retention floor: keep everything at
    // or above that version IN ADDITION to the newest `keep` — the
    // registry-GC coupling ([[PublishSet.pruneMembers]]). The count is
    // taken against THIS lock-held healed listing, so a commit racing
    // the caller's earlier currentVersion read can only GROW the
    // retained suffix, never shift a still-referenced version out of
    // it. Both sets are suffixes of the ascending listing, so the
    // union stays contiguous and `takeRight` semantics hold.
    val keepN = math.max(keep,
      alsoRetainFrom.map(from => committed.count(_ >= from)).getOrElse(0))
    val retained = committed.takeRight(keepN) // always includes cur
    val expired = committed.dropRight(keepN)
    val live: Set[String] =
      retained.flatMap(v => manifest(spark, root, v).files).toSet
    // batch dirs whose files THIS prune run is expiring: known-ours,
    // safe to sweep immediately once file-empty (no age needed)
    val expiredDirNames: Set[String] = (expired ++ orphans)
      .flatMap(v => manifest(spark, root, v).files.filterNot(live))
      .map(_.split("/")(0)).toSet
    (expired ++ orphans).foreach { v =>
      manifest(spark, root, v).files.filterNot(live).foreach { rel =>
        f.delete(hp(s"${dataRoot(root)}/$rel"), false)
      }
      f.delete(hp(manifestPath(root, v)), false)
    }
    // Sweep batch dirs: emptied-by-expiry dirs, and LOST-RACE orphans —
    // a staged dir whose version component is ≤ cur can never commit
    // (its slot's manifest exists; the commit CAS would lose), so if no
    // retained manifest references any of its files it is garbage. A
    // dir staged for a version ABOVE cur may be a live writer's
    // in-flight attempt: left alone.
    val dr = hp(dataRoot(root))
    if (f.exists(dr)) f.listStatus(dr).foreach { st =>
      if (st.isDirectory) {
        val name = st.getPath.getName
        val vOf = name.stripPrefix("b").takeWhile(_.isDigit)
        // BOTH deletion branches share two vetoes (review r14: the
        // empty-dir branch bypassing them could delete a JUST-SET-UP
        // write — setupJob creates <dir>/_temporary before any part
        // file exists, so the dir is file-empty yet live):
        //  - age guard (the Iceberg orphan-cleanup discipline): a dir
        //    can look deletable yet be MID-STAGE if a racing writer
        //    advanced cur after the stager planned — deleting under
        //    its write job would turn a retryable conflict into a
        //    hard failure
        val aged =
          st.getModificationTime < System.currentTimeMillis() - staleAfterMs
        //  - an in-flight Spark write keeps its staging under
        //    <dir>/_temporary while the TOP-LEVEL mtime stays frozen —
        //    a stage outliving the age guard would otherwise be
        //    deleted mid-write (ADVICE r13): presence of the
        //    committer's scratch dir vetoes deletion at ANY age
        val inFlight = f.exists(hp(s"${dataRoot(root)}/$name/_temporary"))
        // the in-flight veto must SHORT-CIRCUIT the classification, not
        // just the deletion: both classifying listings below recurse
        // into the dir, and a live writer's _temporary task files
        // vanish mid-listing as its commit renames them (found by the
        // r15 cross-process publish/GC hammer — RawLocalFileSystem
        // fails the whole sweep on the vanished stat). And a writer
        // can still CREATE its scratch between the veto check and the
        // listing, so classification errors are treated as live
        // activity: skip the dir this sweep, it stays for the next.
        if (!inFlight) try {
          val supersededOrphan =
            name.startsWith("b") && vOf.nonEmpty && vOf.toLong <= healed &&
              aged &&
              listRelative(f, root, name).forall(rel => !live.contains(rel))
          // a file-empty dir is sweepable when this prune just emptied
          // it (known ours), or once aged (a crashed writer's pre-setup
          // dir)
          val emptied = !f.listFiles(st.getPath, true).hasNext &&
            (aged || expiredDirNames.contains(name))
          if (supersededOrphan || emptied)
            f.delete(st.getPath, true)
        } catch {
          case _: java.io.FileNotFoundException => ()
          case e: RuntimeException
            if e.getMessage != null &&
              (e.getMessage.contains("file permissions") ||
                e.getMessage.contains("No such file")) => ()
        }
      }
    }
    // stale tmps from crashed writers: manifest tmps under _manifests
    // and pointer-advance tmps (`_current.tmp_<v>`) at the root —
    // anything older than an hour cannot belong to an in-flight commit
    val md = hp(s"$root/_manifests")
    if (f.exists(md)) f.listStatus(md).foreach { st =>
      if (st.getPath.getName.startsWith(".tmp_") &&
          st.getModificationTime < System.currentTimeMillis() - 3600 * 1000L)
        f.delete(st.getPath, false)
    }
    f.listStatus(hp(root)).foreach { st =>
      val nm = st.getPath.getName
      // pointer-advance and epoch-cursor overwrite tmps: try/finally
      // deletes them on any non-fatal failure, so only a killed JVM
      // leaves one (r15)
      if ((nm.startsWith("_current.tmp_") ||
           nm.startsWith("_epoch_cursor.tmp_")) &&
          st.getModificationTime < System.currentTimeMillis() - 3600 * 1000L)
        f.delete(st.getPath, false)
    }
  }
}
