package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import java.util.concurrent.{Executors, TimeUnit}
import scala.collection.mutable
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.{Failure, Success, Try}

/** dbt-runtime semantics rebuilt Spark-native (SURVEY.md §2.7 D1-D9):
  *
  *  - `ref('MODEL')` DAG + topological schedule with bounded concurrency
  *    (profiles.yml:6 `threads: 4`) -> model registry + Futures; each
  *    model materializes as a concurrent Spark job, downstream models
  *    consume the upstream's DataFrame.
  *  - `config(materialized=...)` -> [[Materialization]]: View = lazily
  *    recomputed DataFrame (dbt view), Table = parquet write + re-read
  *    (dbt table / CTAS, LOCATION_ID_TO_NEIGHBORHOOD.sql:1), Ephemeral =
  *    plan inlined into consumers.
  *  - env-based schema routing (CORE_/DEV_ dataset prefixes,
  *    macros/generate_custom_schema_names.md) -> [[Env]] + warehouse path
  *    `<root>/<env>/<layer>/<name>`.
  *  - adapter `retries: 1` (profiles.yml:9) -> per-model retry wrapper.
  *
  * At scale: Table materializations are the DAG's shuffle cut-points —
  * each writes partitioned parquet once and every consumer reads the
  * materialized copy instead of recomputing the lineage, exactly the
  * role dbt tables play in a warehouse.
  */
object Pipeline {

  sealed trait Materialization
  case object View extends Materialization
  case object Table extends Materialization
  case object Ephemeral extends Materialization
  /** dbt `materialized='incremental'`: first run builds the full table;
    * later runs merge the model's output into the existing relation —
    * rows matching `uniqueKey` are REPLACED (dbt's delete+insert merge),
    * the rest appended; with no key the output is appended wholesale.
    * The model's build function receives the existing relation under
    * the [[This]] dep key (dbt's `{{ this }}` / `is_incremental()`), so
    * it can compute only the delta (e.g. filter source rows newer than
    * `max(ts)` of [[This]]) instead of rescanning history — the whole
    * point of incremental models at 100 TB. */
  final case class Incremental(uniqueKey: Seq[String] = Nil) extends Materialization
  /** Snapshot-versioned materialization ([[VersionedTable]]): every run
    * commits a new version atomically — concurrent readers stay pinned
    * to a consistent version across a rebuild (the Table swap's
    * transient-miss window is gone), the previous run's output stays
    * readable as version N-1 (time travel; rollback is one cheap
    * manifest commit), and with a `uniqueKey` the run MERGES its
    * increment (partition-scoped file reuse when partitionBy ⊆ key)
    * instead of rebuilding — the Incremental semantics on the
    * versioned store. `retain` bounds the version history: after each
    * commit the scheduler prunes to the newest `retain` versions (a
    * daily full republish would otherwise accumulate complete copies
    * of the dataset without bound); size it to the longest reader +
    * the rollback window. */
  final case class Versioned(uniqueKey: Seq[String] = Nil,
                             retain: Int = 3) extends Materialization

  /** Dep-map key under which an Incremental model's build function sees
    * its own existing relation (absent on the first run). */
  val This = "this"

  private def writeParquet(df: DataFrame, path: String,
                           partitionBy: Seq[String]): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  private def fsFor(spark: SparkSession, path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Existence through the path's Hadoop FileSystem — the check every
    * state/companion reader must use instead of `java.io.File` (ADVICE
    * r8: on HDFS/S3 a local-file check returns false for an EXISTING
    * relation, so state silently reads as empty — replay guards defeat,
    * keyed merges replace accumulated state with batch-only rows). */
  def pathExists(spark: SparkSession, path: String): Boolean =
    fsFor(spark, path).exists(new org.apache.hadoop.fs.Path(path))

  /** dbt's delete+insert merge of `increment` into the parquet relation
    * at `path`, creating it on first write: existing rows whose key
    * appears in the increment are dropped (plain-equality anti join —
    * NULL-keyed existing rows never match, so they survive, exactly like
    * SQL `key IN (...)`), then the increment is appended; empty
    * `uniqueKey` appends wholesale. The merge lands on a sibling tmp
    * path FIRST (the plan reads the live path; overwriting in place
    * would read-while-truncate), then swaps in; every delete/rename is
    * checked (Hadoop FileSystems report most failures by returning
    * false, not throwing) so a failed swap aborts loudly with the merged
    * data preserved at the tmp path instead of silently dropping the
    * relation. The swap itself is not atomic; rerunning the merge after
    * a crash converges (see idempotence below).
    *
    * When `partitionBy` is set AND the partition columns cannot migrate
    * under the key contract (append-only, or partitionBy ⊆ uniqueKey —
    * dbt insert_overwrite's assumption), the merge is PARTITION-SCOPED:
    * only partitions present in the increment are rewritten and swapped,
    * O(affected partitions) instead of O(table) — the shape that keeps a
    * per-micro-batch streaming upsert viable on a 100 TB relation. A key
    * that CAN migrate across partitions falls back to the full-table
    * swap, preserving exact global delete+insert semantics.
    *
    * Shared by the Incremental materialization and the streaming upsert
    * sink ([[graft.streaming.EventStreams.upsertStream]]) — one merge
    * semantics for both write paths. Idempotent per increment: replaying
    * the same batch (streaming at-least-once) converges to the same
    * relation. */
  /** Swap `stage` into `live` crash-safely: rename live ASIDE (never
    * delete-then-rename — a crash or failed rename in that window makes
    * the relation vanish, and an at-least-once REPLAY of the merge then
    * sees "first write" and silently truncates history to the
    * increment), rename stage in, drop the aside copy last. */
  private def swapIn(f: org.apache.hadoop.fs.FileSystem,
                     live: org.apache.hadoop.fs.Path,
                     stage: org.apache.hadoop.fs.Path): Unit = {
    val aside = new org.apache.hadoop.fs.Path(live.toString + ".__incremental_old")
    require(f.rename(live, aside), s"failed to move $live aside during swap")
    require(f.rename(stage, live),
      s"failed to swap $stage into $live — original preserved at $aside")
    f.delete(aside, true)
  }

  /** Heal a swap that crashed between its two renames: the aside copy
    * exists and the live path does not -> restore it; both exist ->
    * the swap completed, drop the aside leftover. */
  private def recoverSwap(f: org.apache.hadoop.fs.FileSystem,
                          live: org.apache.hadoop.fs.Path): Unit = {
    val aside = new org.apache.hadoop.fs.Path(live.toString + ".__incremental_old")
    if (f.exists(aside)) {
      if (!f.exists(live))
        require(f.rename(aside, live), s"failed to restore $aside after crash")
      else
        require(f.delete(aside, true), s"failed to clean up $aside")
    }
  }

  def mergeIntoParquet(spark: SparkSession, path: String, increment: DataFrame,
                       uniqueKey: Seq[String], partitionBy: Seq[String] = Nil): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val f = fsFor(spark, path)
    recoverSwap(f, p) // heal a previous merge that crashed mid-swap
    val partitionScoped = partitionBy.nonEmpty &&
      (uniqueKey.isEmpty || partitionBy.forall(uniqueKey.contains))
    // The increment is read up to three times: for the affected
    // partitions, for the anti-join keys and as the appended rows. Hold
    // it for the merge so that its lineage runs once (unless the caller
    // already holds it), and release it before returning.
    val hold = (partitionScoped || (uniqueKey.nonEmpty && f.exists(p))) &&
      increment.storageLevel == StorageLevel.NONE
    if (hold) increment.persist()
    try mergeOnce(spark, path, p, f, increment, uniqueKey, partitionBy, partitionScoped)
    finally if (hold) increment.unpersist(blocking = true)
  }

  private def mergeOnce(spark: SparkSession, path: String,
                        p: org.apache.hadoop.fs.Path,
                        f: org.apache.hadoop.fs.FileSystem, increment: DataFrame,
                        uniqueKey: Seq[String], partitionBy: Seq[String],
                        partitionScoped: Boolean): Unit = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    // Partition-scoped preliminaries run BEFORE the existing relation is
    // read: per-dir crash recovery must restore any aside-moved
    // partition first, or the merge would be computed WITHOUT that
    // partition's rows and then replace it.
    // (partition dirs are rebuilt from the affected values; the writer's
    // own dir encoding for date/timestamp keys differs from toString, so
    // the fast path is scoped to non-temporal key types. Affected
    // partitions are few by contract — a merge touches the partitions
    // its increment lands in — so collecting them is driver-safe.)
    val aliased = partitionBy.map(c => s"__aff_$c")
    val (affected, dirs) = if (partitionScoped) {
      partitionBy.foreach { c =>
        val dt = increment.schema(c).dataType
        require(!dt.isInstanceOf[org.apache.spark.sql.types.DateType] &&
          !dt.isInstanceOf[org.apache.spark.sql.types.TimestampType],
          s"partition-scoped merge supports string/numeric/boolean keys, '$c' is $dt")
      }
      val aff = increment.select(partitionBy.map(increment(_)): _*)
        .distinct().toDF(aliased: _*)
      val ds = aff.collect().map { row =>
        partitionBy.indices.map { i =>
          val v = row.get(i)
          val vs = if (v == null) "__HIVE_DEFAULT_PARTITION__"
                   else escapePathName(v.toString)
          s"${escapePathName(partitionBy(i))}=$vs"
        }.mkString("/")
      }.toSeq
      // heal per-dir crashed swaps from a prior run of THIS increment
      // (at-least-once replay re-runs the same increment; checkpoint
      // replay guarantees a crashed merge re-runs before a different
      // increment arrives)
      if (f.exists(p))
        ds.foreach(d => recoverSwap(f, new org.apache.hadoop.fs.Path(s"$path/$d")))
      (aff, ds)
    } else (null, Seq.empty[String])

    if (!f.exists(p)) { writeParquet(increment, path, partitionBy); return }
    // Pin the on-disk schema to the increment's: partition-column type
    // inference would otherwise re-type numeric-looking string partition
    // values ("007" -> 7) and corrupt them through the merge round-trip.
    // This also makes the increment's schema AUTHORITATIVE under schema
    // evolution: a column the increment adds is NULL-backfilled on
    // retained rows (reading old footers through the wider schema), and
    // a column the increment dropped disappears from the relation.
    val existing = spark.read.schema(increment.schema).parquet(path)
    def dropKeyed(df: DataFrame): DataFrame =
      if (uniqueKey.isEmpty) df
      else df.join(
        increment.select(uniqueKey.map(increment(_)): _*).distinct(),
        uniqueKey, "left_anti")
    val tmp = new org.apache.hadoop.fs.Path(s"$path.__incremental_tmp")
    // The partition-scoped fast path rewrites ONLY the affected dirs, so
    // a schema-CHANGING increment would leave untouched partitions with
    // the old footer schema — a mixed-schema relation that plain readers
    // resolve arbitrarily (parquet picks one footer unless mergeSchema).
    // A schema change therefore falls back to the full-table merge,
    // which rewrites every file under the new schema in one crash-safe
    // swap. Schema migrations are rare; per-migration full rewrite is
    // the correct price.
    // Name-only comparison is not enough (ADVICE r5): a same-name TYPE
    // change is exactly as mixed-footer-hazardous as a rename. Data
    // (footer) columns compare name->dataType; partition columns compare
    // by name only — their on-disk "type" is a directory-name inference,
    // not a footer, so inferred-vs-declared drift ("007" dirs inferred
    // INT vs a declared STRING column) must not force a spurious full
    // rewrite.
    def footerSig(s: org.apache.spark.sql.types.StructType) =
      s.filterNot(fd => partitionBy.contains(fd.name))
        .map(fd => fd.name -> fd.dataType).toSet
    val sameDiskSchema = !partitionScoped || {
      val disk = spark.read.parquet(path).schema
      disk.fieldNames.toSet == increment.schema.fieldNames.toSet &&
        footerSig(disk) == footerSig(increment.schema)
    }
    if (!partitionScoped || !sameDiskSchema) {
      writeParquet(dropKeyed(existing).unionByName(increment), tmp.toString,
        partitionBy)
      swapIn(f, p, tmp)
    } else {
      import org.apache.spark.sql.functions.broadcast
      val cond = partitionBy.zip(aliased)
        .map { case (c, a) => existing(c) <=> affected(a) }.reduce(_ && _)
      val touched = existing.join(broadcast(affected), cond, "left_semi")
      writeParquet(dropKeyed(touched).unionByName(increment), tmp.toString,
        partitionBy)
      dirs.foreach { dir =>
        val live = new org.apache.hadoop.fs.Path(s"$path/$dir")
        val stage = new org.apache.hadoop.fs.Path(s"$tmp/$dir")
        require(f.exists(stage), s"staged partition missing: $stage")
        if (!f.exists(live.getParent)) f.mkdirs(live.getParent)
        // same crash-safe rename-aside protocol as the full-table swap,
        // per partition dir
        if (f.exists(live)) swapIn(f, live, stage)
        else require(f.rename(stage, live),
          s"failed to move $stage into $live — staged merge left at $tmp")
      }
      f.delete(tmp, true)
    }
  }

  /** Targeted key deletion — the right-to-be-forgotten maintenance op:
    * rewrite the relation WITHOUT rows whose key tuple appears in
    * `keys`, through the same rename-aside crash-safe swap (and the
    * same heal-on-entry) as the incremental merge. Returns the number
    * of rows removed, the figure a deletion-request audit records.
    * Idempotent: replaying the same key set deletes 0.
    *
    * Scale shape: one anti-join keyed by the key columns — the deletion
    * key set is request-sized and broadcasts; the rewrite is the
    * unavoidable cost of physical deletion from immutable files. On a
    * partitioned relation, scope the rewrite by running this per
    * affected partition path (partition pruning makes the read side
    * cheap); this general form rewrites the whole relation. */
  def deleteKeys(spark: SparkSession, path: String, keys: DataFrame,
                 keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "deleteKeys needs at least one key column")
    val p = new org.apache.hadoop.fs.Path(path)
    val f = fsFor(spark, path)
    recoverSwap(f, p)
    require(f.exists(p), s"no relation at $path")
    val existing = spark.read.parquet(path)
    val keySet = keys.select(keyCols.map(keys(_)): _*).distinct()
      .localCheckpoint(false) // one stable evaluation for hit-count + join
    val hit = existing.join(
      org.apache.spark.sql.functions.broadcast(keySet), keyCols, "left_semi")
    val nDeleted = hit.count()
    if (nDeleted == 0) return 0L // nothing to rewrite
    val kept = existing.join(
      org.apache.spark.sql.functions.broadcast(keySet), keyCols, "left_anti")
    val tmp = new org.apache.hadoop.fs.Path(s"$path.__incremental_tmp")
    writeParquet(kept, tmp.toString, Nil)
    swapIn(f, p, tmp)
    nDeleted
  }

  /** The file size compaction aims for, here and in the versioned
    * store's [[VersionedTable.compact]]. */
  val CompactTargetFileBytes: Long = 128L * 1024 * 1024

  /** Small-file compaction — the maintenance op that keeps scan task
    * counts sane after many small incremental merges: rewrite the
    * relation into ~[[CompactTargetFileBytes]] files (coalesce, no
    * shuffle), content-identical, through the crash-safe swap. Returns
    * the file count after compaction. Partitioned relations compact
    * per partition dir by calling this on each affected path. */
  def compact(spark: SparkSession, path: String): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val f = fsFor(spark, path)
    recoverSwap(f, p)
    require(f.exists(p), s"no relation at $path")
    val bytes = f.getContentSummary(p).getLength
    val n = math.max(1,
      math.ceil(bytes.toDouble / CompactTargetFileBytes).toInt)
    val tmp = new org.apache.hadoop.fs.Path(s"$path.__incremental_tmp")
    writeParquet(spark.read.parquet(path).coalesce(n), tmp.toString, Nil)
    swapIn(f, p, tmp)
    f.listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
  }

  sealed abstract class Env(val prefix: String)
  case object Core extends Env("CORE") // prod (profiles.yml target PROD)
  case object Dev extends Env("DEV")

  /** A model: name, warehouse layer, dependencies by name, and a build
    * function from resolved upstream DataFrames. */
  final case class Model(
      name: String,
      layer: String,
      deps: Seq[String],
      materialization: Materialization = View,
      partitionBy: Seq[String] = Nil)(
      val build: Map[String, DataFrame] => DataFrame)

  final case class RunConfig(
      env: Env = Core,
      warehouseRoot: String = "",
      threads: Int = 4,   // profiles.yml:6
      retries: Int = 1)   // profiles.yml:9

  /** THE env-scoped materialization path scheme —
    * `<warehouseRoot>/<envPrefix>/<layer>/<name>` — single-sourced so
    * out-of-DAG consumers ([[graft.models.CurationModels]]'s release
    * registry and recall gate) can never drift from where the
    * scheduler actually wrote the tables (review r14). */
  def materializationPath(cfg: RunConfig, layer: String,
                          name: String): String =
    s"${cfg.warehouseRoot}/${cfg.env.prefix}/$layer/$name"

  final class CycleException(msg: String) extends RuntimeException(msg)

  final case class RunResult(
      resolved: Map[String, DataFrame],
      order: Seq[String])

  /** Registry + scheduler. Register models, then `run` materializes the
    * whole DAG (or the subgraph reaching `targets`) in topological order
    * with `threads`-bounded parallelism and per-model retries. */
  final class Registry(spark: SparkSession) {
    private val models = mutable.LinkedHashMap.empty[String, Model]

    def register(m: Model): this.type = {
      require(!models.contains(m.name), s"duplicate model '${m.name}'")
      require(m.name != This,
        s"'$This' is reserved (Incremental models see their own relation under it)")
      models += m.name -> m; this
    }
    def model(name: String): Model = models(name)
    def names: Seq[String] = models.keys.toSeq

    /** Kahn topological order over the requested subgraph; throws
      * [[CycleException]] on a cycle, mirroring dbt's compile error. */
    def topoOrder(targets: Seq[String]): Seq[String] = {
      val wanted = mutable.LinkedHashSet.empty[String]
      val inProgress = mutable.Set.empty[String]
      def visit(n: String): Unit = if (!wanted.contains(n)) {
        if (!inProgress.add(n))
          throw new CycleException(s"model cycle through '$n'")
        val m = models.getOrElse(n,
          throw new NoSuchElementException(s"unknown model '$n'"))
        m.deps.foreach(visit)
        inProgress -= n
        wanted += n
      }
      targets.foreach(visit)
      val indeg = mutable.Map(wanted.toSeq.map(n =>
        n -> models(n).deps.count(wanted.contains)): _*)
      val order = mutable.ArrayBuffer.empty[String]
      val ready = mutable.Queue(wanted.filter(indeg(_) == 0).toSeq: _*)
      while (ready.nonEmpty) {
        val n = ready.dequeue(); order += n
        wanted.foreach { d =>
          if (models(d).deps.contains(n)) {
            indeg(d) -= 1; if (indeg(d) == 0) ready.enqueue(d)
          }
        }
      }
      if (order.size != wanted.size)
        throw new CycleException(
          s"model cycle among: ${wanted.diff(order.toSet).mkString(", ")}")
      order.toSeq
    }

    private def envPath(m: Model, cfg: RunConfig): String = {
      require(cfg.warehouseRoot.nonEmpty,
        s"RunConfig.warehouseRoot must be set to materialize table '${m.name}' " +
          "(an empty root would write to the filesystem root)")
      Pipeline.materializationPath(cfg, m.layer, m.name)
    }

    private def exists(path: String): Boolean =
      fsFor(spark, path).exists(new org.apache.hadoop.fs.Path(path))

    /** The model's relation as already materialized under `cfg`'s env,
      * if it is. Views and Ephemerals never are. */
    private def envRelation(m: Model, cfg: RunConfig): Option[DataFrame] =
      if (cfg.warehouseRoot.isEmpty) None
      else m.materialization match {
        case Table | Incremental(_) if exists(envPath(m, cfg)) =>
          Some(spark.read.parquet(envPath(m, cfg)))
        case Versioned(_, _) if VersionedTable.currentVersion(spark, envPath(m, cfg)).nonEmpty =>
          Some(VersionedTable.read(spark, envPath(m, cfg)))
        case _ => None
      }

    /** The model's existing env relation, for Incremental/Versioned
      * models whose path is already materialized — exposed to `build`
      * as [[This]]. */
    private def existingRelation(m: Model, cfg: RunConfig): Option[DataFrame] =
      m.materialization match {
        case Incremental(_) | Versioned(_, _) => envRelation(m, cfg)
        case _ => None
      }

    /** Read back a relation this run just wrote. An unpartitioned one is
      * read with the schema it was written with, which skips the parquet
      * footer inference job; a partitioned one is inferred, because
      * inference puts the partition columns last. */
    private def readWritten(path: String, written: DataFrame,
                            partitionBy: Seq[String]): DataFrame =
      if (partitionBy.isEmpty) spark.read.schema(written.schema).parquet(path)
      else spark.read.parquet(path)

    private def materialize(m: Model, df: DataFrame, cfg: RunConfig): DataFrame =
      m.materialization match {
        case View | Ephemeral => df
        case Table =>
          val path = envPath(m, cfg)
          Pipeline.writeParquet(df, path, m.partitionBy)
          readWritten(path, df, m.partitionBy)
        case Incremental(uniqueKey) =>
          val path = envPath(m, cfg)
          mergeIntoParquet(spark, path, df, uniqueKey, m.partitionBy)
          readWritten(path, df, m.partitionBy)
        case Versioned(uniqueKey, retain) =>
          val path = envPath(m, cfg)
          if (uniqueKey.isEmpty)
            VersionedTable.write(spark, path, df, m.partitionBy)
          else VersionedTable.merge(spark, path, df, uniqueKey, m.partitionBy)
          VersionedTable.prune(spark, path, keep = retain)
          VersionedTable.read(spark, path)
      }

    private def withRetry[T](retries: Int)(body: => T): T =
      Try(body) match {
        case Success(v) => v
        case Failure(e) if retries > 0 => withRetry(retries - 1)(body)
        case Failure(e) => throw e
      }

    /** Resolve models under `cfg`'s env WITHOUT materializing anything
      * and lend them to `use` — the `dbt test` resolution mode: tests
      * reference the target's existing relations, they never build them.
      *
      * Resolution is on demand: `use` gets a map of every model in the
      * requested subgraph, but a model is resolved only when `use` or a
      * downstream build reads it, so a model nothing reads is never
      * built. A Table, Incremental or Versioned model whose env relation
      * is already materialized is READ from it. Any other one is
      * recomputed from its lineage: a Table-like model is then HELD
      * (persisted), so every check and downstream build that reads it
      * shares one evaluation, while Views and Ephemerals stay inlined in
      * their readers as in dbt. Everything held is released (blocking)
      * when `use` returns or throws. */
    def resolve[T](cfg: RunConfig, targets: Seq[String] = Nil)(
        use: Map[String, DataFrame] => T): T = {
      val order = topoOrder(if (targets.isEmpty) names else targets)
      val inScope = order.toSet
      val resolved = mutable.Map.empty[String, DataFrame]
      val held = mutable.ArrayBuffer.empty[DataFrame]
      def frame(n: String): DataFrame = resolved.synchronized {
        resolved.getOrElse(n, {
          val m = models(n)
          def built = m.build(m.deps.map(d => d -> frame(d)).toMap)
          val df = m.materialization match {
            case View | Ephemeral => built
            case _ => envRelation(m, cfg).getOrElse {
              val b = built
              // a pass-through of a held upstream is held already
              if (b.storageLevel == StorageLevel.NONE) { b.persist(); held += b }
              b
            }
          }
          resolved(n) = df
          df
        })
      }
      val lent = new scala.collection.immutable.AbstractMap[String, DataFrame] {
        def get(n: String): Option[DataFrame] =
          if (inScope(n)) Some(frame(n)) else None
        def iterator: Iterator[(String, DataFrame)] =
          order.iterator.map(n => n -> frame(n))
        override def contains(n: String): Boolean = inScope(n)
        override def keysIterator: Iterator[String] = order.iterator
        override def size: Int = order.size
        override def knownSize: Int = order.size
        def removed(n: String): Map[String, DataFrame] = iterator.toMap - n
        def updated[V >: DataFrame](n: String, v: V): Map[String, V] =
          iterator.toMap.updated(n, v)
      }
      try use(lent)
      finally resolved.synchronized(held.foreach(_.unpersist(blocking = true)))
    }

    /** Materialize the DAG. Independent models run concurrently on a
      * `threads`-sized pool (each occupies the Spark scheduler with its
      * own job, so this is real pipeline parallelism in local and
      * cluster mode alike). */
    def run(cfg: RunConfig, targets: Seq[String] = Nil): RunResult = {
      val order = topoOrder(if (targets.isEmpty) names else targets)
      val pool = Executors.newFixedThreadPool(math.max(1, cfg.threads))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val done = mutable.Map.empty[String, Future[DataFrame]]
      try {
        order.foreach { n =>
          val m = models(n)
          val upstream = Future.sequence(m.deps.map(d => done(d).map(d -> _)))
          done(n) = upstream.map { resolvedDeps =>
            withRetry(cfg.retries) {
              val deps = resolvedDeps.toMap ++
                existingRelation(m, cfg).map(This -> _)
              materialize(m, m.build(deps), cfg)
            }
          }
        }
        val all = Await.result(
          Future.sequence(order.map(n => done(n).map(n -> _))), Duration.Inf)
        RunResult(all.toMap, order)
      } finally {
        pool.shutdown(); pool.awaitTermination(10, TimeUnit.SECONDS)
      }
    }
  }
}
