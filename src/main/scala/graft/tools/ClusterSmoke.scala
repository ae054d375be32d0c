package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cluster-shape smoke: runs a representative query subset under
  * `local-cluster[2,4,2048]` — two SEPARATE executor JVMs — and compares
  * result digests against the same queries under plain `local[*]`.
  *
  * Purpose (VERDICT r3 #3): flush assumptions that only hold in a
  * single JVM — driver-local filesystem paths (the d02/d08 scratch
  * cut-point was exactly this), driver-held mutable state, non-broadcast
  * lazy vals — generically, before a real cluster does. local-cluster
  * executors run in their own JVMs with their own heaps and working
  * dirs, which is the closest single-machine approximation of a
  * multi-node deployment Spark offers.
  *
  * Run (pre-round gate; not part of `sbt test` because the executor
  * JVMs add ~1 min of fixed cost and need the forked-JVM classpath):
  *
  *   SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *     sbt 'runMain graft.tools.ClusterSmoke [sfDir]'
  *
  * (the worker's executor-launcher resolves its classpath from a Spark
  * layout; SPARK_SCALA_VERSION skips the dev-build directory probe that
  * fails on a jars-only distribution).
  */
object ClusterSmoke {

  /** Queries exercising the constructs that can break across JVMs: the
    * shared scratch cut-point (d02/d08), a multi-join shuffle (q03), a
    * window (q07), a broadcast-dim ANN (e02), a text kernel (t03), a
    * struct-returning compiled expression (t09), a broadcast-normalized
    * aggregate (t10), and a broadcast containment join (d10). */
  private val subset = Seq("d02_dedup_minhash", "d08_neardup_groups",
    "q03_dim_double_join", "q07_window", "e02_ann_ivf", "t03_fingerprint",
    "t09_repetition", "t10_domain_mixture", "d10_containment",
    "e04_pq_encode", "m05_chunk", "d11_softdedup_weights",
    "d12_span_dedup",
    // round-6 shapes: within-cluster pairwise + greedy keeper (d13),
    // PQ shortlist -> exact rerank two-stage (e06), hash-shard window
    // (t12), driver-built bigram-LM literals scoring map-only (t14)
    "d13_semantic_dedup", "e06_pq_rerank", "t12_shard_shuffle",
    "t14_bigram_lm",
    // combined cell-pruned + compressed-code search
    "e07_ivf_pq",
    // round-7 shapes: the TRAINED quantizer paths — the k-means fit
    // collects sums/counts from executor partial aggregates, so a
    // multi-JVM run is exactly where a non-deterministic accumulation
    // would surface (the exact-int64 contract says it cannot)
    "e08_kmeans_cells", "e09_ivf_pq_trained",
    // round-8 shapes: OPQ rotation (map-only compiled Householder pass)
    // feeding the fully-trained pipeline across executor JVMs, and
    // residual IVF-PQ (assignment + residual + encode in one projection
    // chain, per-probe-cell ADC tables)
    "e11_opq_ivf_pq", "e12_ivf_pq_residual", "e13_sq8_topk",
    "e14_bq_rerank", "e15_ivf_sq_topk", "q49_radius_join",
    // exact-dedup-first pairing (fp window + weight join), mixture
    // weights application, and the social mart's staged try-parse path
    "d04_dedup_ngram_jaccard", "q46_social_mart", "m02_media_features",
    // holdout assignment: plain hash split + the near-dup-group-keyed
    // variant (rides the shared pairs scratch + CC across JVMs)
    "t16_split_assign", "t17_group_split",
    // round-9 shapes: the KMV TypedImperativeAggregate's serialize/
    // merge of partial sketches across executor JVMs (q16 — the one
    // codepath local[*] can't prove), the grid-rank cumulative window
    // (q40), and anchor-segment islands + rebuild (d14)
    "q16_approx_distinct", "q40_approx_percentile", "d14_exact_substr",
    // truncated-prefix coarse window feeding the exact rerank window on
    // the same query_id partitioning (shortlist WindowGroupLimit must
    // merge identically from separate executor JVMs)
    "e16_trunc_rerank",
    // round-10 shapes: the gram-frequency window + map-side-verified
    // prefix self-join (d15), the CMS counter sums + min-over-rows
    // estimate (t18), six iterated shuffle steps with per-step
    // localCheckpoint ACROSS executor JVMs (q51 — localCheckpoint
    // stores blocks on executors, exactly what a single JVM can't
    // prove), KMV pair-algebra merges (q52), and the driver-collected
    // bloom bitset re-broadcast to executors (q53)
    "d15_edit_join", "t18_cms_topk", "q51_pagerank", "q52_kmv_algebra",
    "q53_bloom_join",
    // BM25's idf aggregates from executor partials feeding broadcast
    // literals; the z-order curve region counts are pure bit arithmetic
    "t19_bm25", "q54_zorder",
    // filtered ANN: attribute semi-join under the trained index
    "e17_filtered_ann",
    // per-key densify + IGNORE NULLS forward-fill window
    "q56_gap_fill",
    // chained conditional aggs (funnel) and the bf-vs-ivf recall join
    "q57_funnel", "e18_ivf_recall",
    // round-11 shapes: the BPE merge-table fit from executor-partial
    // pair counts baked into literal encode chains (t20), NB's
    // classes×vocab grid built from executor partials then broadcast
    // (t21), the generalized N-stage sequence plan (q58), the host
    // syndication graph build + rank join (d17), A-ES weighted top-k
    // merged from per-partition partial top-ks (d18), trained-cell
    // quotas (d19), the MMR per-query greedy pass running as a typed
    // cogroup closure in executor JVMs (e19), and the perceptual-hash banding
    // self-join (m07)
    "t20_bpe_tokenize", "t21_nb_classify", "q58_seq_pattern",
    "d17_host_rank_gate", "d18_weighted_sample", "d19_cluster_sample",
    "e19_mmr_rerank", "m07_phash_neardup",
    // maintained-index serving (frozen base fit + upsert assignment +
    // tombstone anti-join), the arithmetic-week cohort matrix, and the
    // composed data card (fp dup membership + PII regexes + tokens)
    "e20_ivf_upsert", "q59_cohort_retention", "t22_data_card",
    // delta record linkage: frozen gram-rank state + cross-population
    // prefix join + border block across executor JVMs
    "d20_edit_join_delta",
    // round-12 shapes: NB literal-model scoring + the ppm confusion
    // aggregation from executor partials (t23), the chunker's
    // explode+slice map stage (t24), and the kNN vote windows over the
    // broadcast holdout (e21)
    "t23_nb_confusion", "t24_chunk_spans", "e21_knn_label",
    // delta semantic dedup: base-only fit + two assignment passes +
    // the cell-keyed state∪batch pair join across executor JVMs
    "d21_semantic_delta",
    // round-13: census staging mart (banded-xlsx staging surface) and
    // the RAG chunk→embed→cell-assign composite
    "q61_census_mart", "e22_chunk_cells", "e23_hybrid_rrf",
    // round-13 late addition: no-split FFD packing (groupByKey +
    // flatMapGroups — the one batch operator with per-group JVM state,
    // exactly what a multi-executor digest check exists to catch)
    "t25_pack_bins",
    // round-13 late addition: boilerplate removal (collect_list +
    // array_sort reassembly — ordering must be partition-independent
    // across executor JVMs)
    "t26_boilerplate",
    // round-13 late addition: quality-keeper dedup (CC + profile +
    // per-group argmax composition)
    "d22_quality_keeper",
    // round-13 session-2 additions: bloom-gated delta dedup (literal
    // bitset built from executor partials + gated union-of-branches),
    // the cross-modal alignment join (two stub towers, mapPartitions
    // image side), and Moore-Lewis selection (two bounded LM fits +
    // one two-expression scoring projection)
    "d23_bloom_delta", "m08_caption_align", "t27_ce_diff",
    // e24: the sweep's persisted candidate relation + 4 re-windows and
    // the integer-ppm aggregate built from executor partials
    "e24_recall_sweep",
    // round-13 session-3 additions: keep-first segment dedup (min-struct
    // keeper from executor partials + collect_list reassembly), the
    // prefix-filtered exact cosine join (corpus-frequency order built
    // from partials + skinny candidate distinct across JVMs) and its
    // frozen-state delta, the IRLS distillation (exact-decimal gradient
    // partials MUST agree across executor boundaries — the
    // bit-determinism contract under real multi-JVM partial aggregation),
    // and the filter-ablation explode+aggregate
    "d24_segment_dedup", "d25_allpairs_cosine", "d26_cosine_delta",
    "t28_lr_distill", "t29_filter_ablation",
    // novelty ppm: frozen-reference left join + per-doc count/sum
    "t30_novelty_score",
    // delta segment dedup: registry probe + hash-only keeper +
    // collect_list rebuild across executor JVMs
    "d27_segment_delta",
    // epoch mix: bounded unpartitioned window + broadcast plan + coin
    "t31_epoch_mix",
    // width-5 rarity-regime cosine: rarest-first prefixes with real
    // selectivity across executor JVMs
    "d28_cosine_rare",
    // LSH sweep: per-config band self-joins + driver-count literal rows
    "d29_lsh_sweep",
    // rarity-regime frozen-state delta: state build + cross link
    "d30_rare_delta",
    // containment join: asymmetric prefix + positional filter with the
    // ranked-window order built from executor partials, chimera union
    "d31_allpairs_contain",
    // sweep CI: driver-literal sweep rows + pure-integer isqrt bounds
    "d32_sweep_ci",
    // 2-D operating grid: one conditional aggregate per probe width
    // built from executor partials must agree across JVM boundaries
    "e25_operating_grid",
    // containment delta: frozen-order two-role candidate paths
    "d33_contain_delta",
    // IVF-PQ grid: ADC shortlist windows + exact-key rerank of bounded
    // prefixes from executor partials
    "e26_pq_grid",
    // rarity-regime banding sweep with integer CI bounds
    "d34_rare_sweep",
    // r15 auto-choice operators: window-ranked decisions over measured
    // relations whose partials cross JVM boundaries
    "d35_banding_choice",
    "e28_operating_choice",
    // r15 3-D serving grid + gate diagnostics (the red-localization
    // contract must itself be partitioning- and JVM-invariant)
    "e27_grid3d",
    "f01_table_fingerprints",
    "t21m_nb_model",
    "e24p_probe_table",
    "e24b_bf_baseline",
    // tokenizer fertility: BPE-fit literals + per-language aggregation
    // partials must agree across JVM boundaries
    "t32_fertility",
    // r16 family grids + choices: the SQ-scored shortlist windows, the
    // rotated-corpus grid (both quantizer fits from executor partials),
    // and the cross-family / tenant-table decisions over them
    "e29_ivfsq_grid3d", "e30_opq_grid3d", "e31_family_choice",
    "e32_tenant_choice", "e33_layout_choice",
    // r17 storage layers answering under SEPARATE executor JVMs: the
    // versioned/zone-mapped range read (manifest pruning + residual
    // filter) and the bucketed catalog-table join (bucket metadata +
    // managed-location rebuild must behave identically cross-JVM)
    "q62_versioned_range", "q63_bucketed_join",
    // r17 binary family grid (integer hamming partials) + the filtered
    // grid/layout pair (filtered truth + full-corpus denominator) +
    // the unigram-LM fit (EM over executor-partial word counts) and
    // its fertility fold
    "e34_bq_grid3d", "e35_filtered_grid", "e36_filtered_layout",
    "t33_unigram_tokenize", "t34_unigram_fertility",
    // CCNet perplexity buckets: the per-language rank-tercile window
    // over CE scores summed from executor partials
    "t35_ppl_buckets",
    // filtered cross-family grid + choice: one filtered substrate
    // feeding three scorer families, decided against the pruned scan
    "e37_filtered_family", "e38_filtered_choice",
    // r18: per-file bloom zones (input_file_name attribution + the
    // bit-OR aggregate from executor partials feeding a driver-side
    // manifest write) and the dir-level union on top of them
    "q66_bloom_point", "q68_bloom_dir",
    // r18: the SCD2 merge chain — three full-outer joins whose
    // closed/untouched/opened branches derive from one exchange
    "q67_scd2_snapshot",
    // r18: the graph-ANN walk — an iterative localCheckpoint chain
    // whose blocks live on executor JVMs, plus the banded build
    "e40_nsw_beam",
    // r18 session-1 keys with executor-partial fits: WordPiece piece
    // counts and the DSIR hashed-ngram bucket distributions
    "t36_wordpiece_tokenize", "t38_dsir_select")

  /** Order-and-partitioning-independent digest: md5 the sorted-column
    * JSON of each row, sum the 60-bit prefixes in decimal space. */
  private def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val cols = df.columns.sorted.map(col).toSeq
    val h = conv(substring(md5(to_json(struct(cols: _*))), 1, 15), 16, 10)
      .cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val row = df.agg(count(lit(1)), sum(h)).head
    (row.getLong(0), row.getDecimal(1))
  }

  private def runAll(spark: SparkSession, sfDir: String): Map[String, (Long, java.math.BigDecimal)] = {
    spark.sparkContext.setLogLevel("WARN")
    val out = subset.map { name =>
      name -> digest(graft.SparkEntry.queries(name)(spark, sfDir))
    }.toMap
    spark.stop()
    // a fresh session after stop() must not see the previous session's
    // memoized plans (Catalog/sharedPairs purge stopped sessions)
    out
  }

  /** Retained-release reader sweep shared by the GcMain-cron and paced
    * shapes (review r17 — two drifting copies of subtle race
    * classification): while the cron JVM lives, read every listed
    * release's members. A failed read is benign ONLY when the version
    * legitimately aged out of the keep window — the FRESH listing lacks
    * it AND it sits at least `keep` behind the fresh newest, which is
    * EXACT w.r.t. the prune rule (a legit prune requires `keep` newer
    * versions at prune time, and the fresh newest can only be ≥ that) —
    * no recency heuristic that a loaded host could false-red (ADVICE
    * r16's TOCTOU, closed without the newest-3 margin). `onPoll` runs
    * once per sweep iteration (the paced shape samples fragmentation).
    * Returns (reads, benignRaces, firstFailure). */
  private def sweepRetainedReads(spark: org.apache.spark.sql.SparkSession,
                                 reg: String, keep: Int, gc: Process,
                                 deadline: Long,
                                 onPoll: () => Unit = () => ())
      : (Int, Int, Option[String]) = {
    import graft.pipeline.{PublishSet, VersionedTable}
    var reads = 0
    var raced = 0
    var fail: Option[String] = None
    while (gc.isAlive && fail.isEmpty &&
        System.currentTimeMillis() < deadline) {
      onPoll()
      try PublishSet.versions(spark, reg).foreach { v =>
        try PublishSet.resolveVersion(spark, reg, v).foreach {
          case (t, mv) =>
            if (VersionedTable.readVersion(spark, t, mv).count() < 1)
              fail = Some(s"release v$v member $t@$mv empty")
            reads += 1
        } catch { case e: Throwable =>
          val fresh = PublishSet.versions(spark, reg)
          val newest = if (fresh.isEmpty) Long.MinValue else fresh.max
          if (!fresh.contains(v) && v <= newest - keep) raced += 1
          else fail = Some(s"retained v$v unreadable: $e")
        }
      } catch { case e: Throwable => fail = Some(e.toString) }
    }
    (reads, raced, fail)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    def builder(master: String) = graft.GraftSession.builder(8,
        master = Some(master))
      // local-cluster is a multi-JVM master, so Scratch demands an
      // explicit shared base (its fail-fast guard would otherwise refuse
      // the default driver-local warehouse dir). The executor JVMs here
      // share this machine's filesystem, so tmpdir IS shared storage —
      // and setting it exercises the spark.graft.tmp conf path a real
      // cluster uses.
      .config("spark.graft.tmp", sys.props("java.io.tmpdir"))

    // pass the sbt-forked JVM's classpath to the executor JVMs — they
    // are launched fresh and know nothing of sbt
    val clusterRes = runAll(builder("local-cluster[2,4,2048]")
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      .getOrCreate(), sfDir)

    val localRes = runAll(builder("local[8]").getOrCreate(), sfDir)

    var failed = false
    var emptyCount = 0
    subset.foreach { name =>
      val (cRows, cSum) = clusterRes(name)
      val (lRows, lSum) = localRes(name)
      // equality-only gate (ADVICE r4): a query that legitimately returns
      // zero rows at smoke scale must not fail when both sides agree —
      // flag the empty agreement as a warning (weaker evidence), not a
      // mismatch, so the gate stays stable against data-scale changes.
      val ok = cRows == lRows &&
        (cSum == null && lSum == null || cSum != null && cSum.compareTo(lSum) == 0)
      if (!ok) failed = true
      if (ok && cRows == 0) emptyCount += 1
      val tag = if (!ok) "MISMATCH"
        else if (cRows == 0) "OK (both empty — weak evidence)"
        else "OK "
      println(f"[cluster-smoke] $name%-24s $tag " +
        s"cluster=($cRows, $cSum) local=($lRows, $lSum)")
    }
    // An isolated empty agreement can be legitimate at smoke scale, but
    // a systemic one (bad sf dir, broken filter constant) must not green
    // the gate on 0==0 equality alone (ADVICE r5): more than 2 empty
    // subset queries fails outright.
    if (emptyCount > 2) {
      println(s"[cluster-smoke] FAIL: $emptyCount of ${subset.size} subset " +
        "queries returned zero rows on both sides — systemic empty-relation " +
        "suspicion (bad sfDir or filter constant); equality-only evidence " +
        "is insufficient at this rate")
      failed = true
    }
    // ---- cross-JVM versioned-table shape (VERDICT r12 next-#3): a
    // WRITER JVM commits optimistic versions while THIS JVM's readers
    // hammer the table — the cross-process analog of the in-JVM
    // pointer-hammer spec (which caught the delete-then-rename pointer
    // bug in r12). Invariants: a read never throws or sees a torn
    // state, observed row counts never regress (versions only grow),
    // and the final history is the full contiguous ladder.
    {
      import graft.pipeline.VersionedTable
      val vtRoot = java.nio.file.Files
        .createTempDirectory("graft-smoke-vt").toString + "/tbl"
      val spark = builder("local[4]").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val nCommits = 8
      val writer = VersionedWriterMain.launch(vtRoot, "w1", nCommits)
      // bounded reader loop + bounded wait: a wedged writer JVM must
      // FAIL the smoke, not hang it (review r13)
      val deadline = System.currentTimeMillis() + 300 * 1000L
      var lastCount = 0L
      var reads = 0
      var readFail: Option[String] = None
      while (writer.isAlive && readFail.isEmpty &&
          System.currentTimeMillis() < deadline) {
        VersionedTable.currentVersion(spark, vtRoot) match {
          case Some(_) =>
            val n = VersionedTable.read(spark, vtRoot).count()
            if (n < lastCount)
              readFail = Some(s"observed count regressed $lastCount -> $n")
            lastCount = n
            reads += 1
          case None => Thread.sleep(25) // writer JVM still starting up
        }
      }
      if (!writer.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)) {
        writer.destroyForcibly()
        readFail = readFail.orElse(Some("writer JVM hung past the deadline"))
      }
      val finalOk = readFail.isEmpty && writer.exitValue == 0 &&
        VersionedTable.currentVersion(spark, vtRoot).contains(nCommits.toLong) &&
        VersionedTable.read(spark, vtRoot).count() == nCommits.toLong &&
        (1L to nCommits.toLong).forall(v =>
          VersionedTable.readVersion(spark, vtRoot, v).count() == v)
      spark.stop()
      if (readFail.nonEmpty || !finalOk) {
        println(s"[cluster-smoke] versioned-table writer-JVM/reader-JVM " +
          s"FAIL: ${readFail.getOrElse("final history not the contiguous ladder")}")
        failed = true
      } else
        println(s"[cluster-smoke] versioned-table writer-JVM/reader-JVM OK " +
          s"($reads concurrent reads over $nCommits cross-process commits, " +
          "counts monotone, ladder intact)")
    }

    // ---- cross-table atomic-publish shape (VERDICT r13 next-#4): a
    // writer thread runs N "curation runs" — commit member A, commit
    // member B (the torn window a naive per-table reader would see),
    // then ONE PublishSet registry commit — while this thread hammers
    // resolve(). Invariants: every resolved set is INTERNALLY
    // CONSISTENT (both members pinned to the same run — a {A:n+1, B:n}
    // observation is exactly the torn state the registry exists to
    // kill), release versions never regress, and the final history is
    // complete with every historical set whole.
    {
      import graft.pipeline.{PublishSet, VersionedTable}
      val base = java.nio.file.Files
        .createTempDirectory("graft-smoke-rel").toString
      val (aRoot, bRoot, reg) = (s"$base/A", s"$base/B", s"$base/_REL")
      val spark = builder("local[4]").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      import spark.implicits._
      val nRuns = 6
      @volatile var writerErr: Option[String] = None
      val writer = new Thread(() => {
        try (1 to nRuns).foreach { i =>
          VersionedTable.write(spark, aRoot,
            Seq((i.toLong, s"a$i")).toDF("id", "tag"))
          Thread.sleep(30) // widen the torn window the registry must hide
          VersionedTable.write(spark, bRoot,
            Seq((i.toLong, s"b$i")).toDF("id", "tag"))
          PublishSet.publish(spark, reg,
            Map(aRoot -> i.toLong, bRoot -> i.toLong))
        } catch { case e: Throwable => writerErr = Some(e.toString) }
      }, "release-writer")
      writer.start()
      var relReads = 0
      var lastRel = 0L
      var relFail: Option[String] = None
      val relDeadline = System.currentTimeMillis() + 300 * 1000L
      while (writer.isAlive && relFail.isEmpty &&
          System.currentTimeMillis() < relDeadline) {
        PublishSet.currentVersion(spark, reg) match {
          case Some(_) =>
            val set = PublishSet.resolve(spark, reg)
            val vs = set.values.toSet
            if (vs.size != 1)
              relFail = Some(s"TORN release observed: $set")
            else if (vs.head < lastRel)
              relFail = Some(s"release regressed $lastRel -> ${vs.head}")
            else { lastRel = vs.head; relReads += 1 }
          case None => Thread.sleep(10)
        }
      }
      writer.join(300 * 1000L)
      val relOk = relFail.isEmpty && writerErr.isEmpty &&
        PublishSet.currentVersion(spark, reg).contains(nRuns.toLong) &&
        (1L to nRuns.toLong).forall { v =>
          // read each HISTORICAL release's pinned member version, not
          // the current one (review r14: resolving the current release
          // re-read release nRuns six times and never checked
          // historical member readability)
          val s = PublishSet.resolveVersion(spark, reg, v)
          s == Map(aRoot -> v, bRoot -> v) &&
            VersionedTable.readVersion(spark, aRoot, s(aRoot)).count() == 1L &&
            VersionedTable.readVersion(spark, bRoot, s(bRoot)).count() == 1L
        }
      // retention-coupled GC on the hammered registry (r14 session 2):
      // expire all but the newest 2 releases, then pruneMembers — the
      // floors must be release-(nRuns-1)'s pins, every RETAINED release
      // must stay fully readable, and the expired releases' exclusive
      // member versions must actually be gone.
      val gcOk = relOk && {
        PublishSet.prune(spark, reg, keep = 2)
        val floors = PublishSet.pruneMembers(spark, reg, memberKeep = 1)
        val keepFrom = (nRuns - 1).toLong
        // r15: the sweep commits gc-intent/gc-done MARKER releases
        // through the registry CAS (the cross-process fence), each
        // re-pinning the current set — two extra metadata-only
        // versions after the epoch releases
        floors == Map(aRoot -> keepFrom, bRoot -> keepFrom) &&
          PublishSet.versions(spark, reg) ==
            Seq(keepFrom, nRuns.toLong, nRuns + 1L, nRuns + 2L) &&
          PublishSet.versions(spark, reg).forall { v =>
            val s = PublishSet.resolveVersion(spark, reg, v)
            VersionedTable.readVersion(spark, aRoot, s(aRoot)).count() == 1L &&
              VersionedTable.readVersion(spark, bRoot, s(bRoot)).count() == 1L
          } &&
          VersionedTable.versions(spark, aRoot) ==
            Seq(keepFrom, nRuns.toLong) &&
          VersionedTable.versions(spark, bRoot) ==
            Seq(keepFrom, nRuns.toLong) &&
          scala.util.Try(
            VersionedTable.readVersion(spark, aRoot, 1L).count()).isFailure
      }
      spark.stop()
      if (!relOk) {
        println("[cluster-smoke] atomic-publish registry FAIL: " +
          relFail.orElse(writerErr).getOrElse("history incomplete"))
        failed = true
      } else if (!gcOk) {
        println("[cluster-smoke] registry retention-coupled GC FAIL")
        failed = true
      } else
        println(s"[cluster-smoke] atomic-publish registry OK ($relReads " +
          s"resolves over $nRuns releases, zero torn sets, history whole, " +
          "retention-coupled GC clean)")
    }

    // ---- cross-process publish/GC mutual exclusion (VERDICT r14
    // next-#4): a PUBLISHER JVM hammers member-commit+publish cycles
    // (with periodic old-pin rollbacks) while THIS JVM sweeps
    // registry prune + retention-coupled member GC against it.
    // Invariants: every fresh-pin publish succeeds (zero lost
    // releases — the child exits nonzero on any), every retained
    // release stays fully readable through every sweep (no pinned
    // member version is ever deleted), and after the child exits a
    // final sweep leaves every retained release readable (zero
    // resurrections needed — nothing pinned was ever gone).
    {
      import graft.pipeline.{PublishSet, VersionedTable}
      val base = java.nio.file.Files
        .createTempDirectory("graft-smoke-gc").toString
      val reg = s"$base/reg"
      val mA = s"$base/memA"
      val mB = s"$base/memB"
      val spark = builder("local[4]").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      import spark.implicits._
      // seed one release so sweeps have a registry from the start
      val sA = VersionedTable.write(spark, mA,
        Seq(("seed", 0L)).toDF("k", "seq"))
      val sB = VersionedTable.write(spark, mB,
        Seq(("seed", 0L)).toDF("k", "seq"))
      PublishSet.publish(spark, reg, Map(mA -> sA, mB -> sB),
        note = Some("epoch 0 rows 0"))
      val nReleases = 25
      val pub = ReleasePublisherMain.launch(reg, mA, mB, nReleases)
      var sweeps = 0
      var reads = 0
      var fail: Option[String] = None
      val deadline = System.currentTimeMillis() + 300 * 1000L
      while (pub.isAlive && fail.isEmpty &&
          System.currentTimeMillis() < deadline) {
        try {
          PublishSet.prune(spark, reg, keep = 6)
          PublishSet.pruneMembers(spark, reg, memberKeep = 1)
          sweeps += 1
          // reader invariant: every release RETAINED at this instant
          // resolves and reads — this JVM is the only pruner, so the
          // listing cannot shrink under the loop
          PublishSet.versions(spark, reg).foreach { v =>
            PublishSet.resolveVersion(spark, reg, v).foreach {
              case (t, mv) =>
                val n = VersionedTable.readVersion(spark, t, mv).count()
                if (n < 1) fail = Some(s"release v$v member $t@$mv empty")
                reads += 1
            }
          }
        } catch { case e: Throwable => fail = Some(e.toString) }
      }
      if (!pub.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)) {
        pub.destroyForcibly()
        fail = fail.orElse(Some("publisher JVM hung past the deadline"))
      }
      // final sweep + read-back after the hammer settles
      val finalOk = fail.isEmpty && pub.exitValue == 0 && {
        PublishSet.prune(spark, reg, keep = 6)
        PublishSet.pruneMembers(spark, reg, memberKeep = 1)
        PublishSet.versions(spark, reg).forall { v =>
          PublishSet.resolveVersion(spark, reg, v).forall {
            case (t, mv) =>
              VersionedTable.readVersion(spark, t, mv).count() >= 1L
          }
        }
      }
      spark.stop()
      if (!finalOk) {
        println("[cluster-smoke] cross-process publish/GC FAIL: " +
          fail.getOrElse(s"publisher exit=${pub.exitValue} or final " +
            "read-back failed"))
        failed = true
      } else
        println(s"[cluster-smoke] cross-process publish/GC OK " +
          s"($nReleases publisher-JVM releases vs $sweeps concurrent " +
          s"GC sweeps, $reads retained-release member reads, zero lost " +
          "releases, zero unreadable pins)")
    }

    // ---- GcMain-as-cron × live publisher (VERDICT r15 next-#8): the
    // SHIPPED maintenance entrypoint in its OWN JVM (exactly how an
    // operator crons it) against a publisher JVM, with this JVM as a
    // concurrent reader — three processes sharing only the registry.
    // Invariants: every GcMain run exits 0; the publisher loses no
    // release; a retained release read by this JVM either reads fully
    // or was pruned out from under the listing by the cron (the
    // reader-slower-than-retention boundary — counted, not failed);
    // after both children exit, a final read-back sees every retained
    // release fully readable. Compaction flags are deliberately off
    // here: a cron compactor racing a hammering publisher exhausts
    // bounded commit retries by design, which is an operator pacing
    // decision, not a correctness property this smoke pins.
    {
      import graft.pipeline.{PublishSet, VersionedTable}
      val base = java.nio.file.Files
        .createTempDirectory("graft-smoke-gcmain").toString
      val reg = s"$base/reg"
      val mA = s"$base/memA"
      val mB = s"$base/memB"
      val spark = builder("local[4]").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      import spark.implicits._
      val sA = VersionedTable.write(spark, mA,
        Seq(("seed", 0L)).toDF("k", "seq"))
      val sB = VersionedTable.write(spark, mB,
        Seq(("seed", 0L)).toDF("k", "seq"))
      PublishSet.publish(spark, reg, Map(mA -> sA, mB -> sB),
        note = Some("epoch 0 rows 0"))
      val nReleases = 15
      val pub = ReleasePublisherMain.launch(reg, mA, mB, nReleases)
      var gcRuns = 0
      var reads = 0
      var racedPrunes = 0
      var fail: Option[String] = None
      val deadline = System.currentTimeMillis() + 300 * 1000L
      while (pub.isAlive && fail.isEmpty &&
          System.currentTimeMillis() < deadline) {
        val gc = VersionedWriterMain.launchJvm("graft.tools.GcMain",
          Seq(reg, "--keep", "6", "--member-keep", "1"))
        // read retained releases WHILE the cron JVM sweeps
        val (r, rp, f) = sweepRetainedReads(spark, reg, keep = 6, gc,
          deadline)
        reads += r; racedPrunes += rp; fail = fail.orElse(f)
        if (!gc.waitFor(120, java.util.concurrent.TimeUnit.SECONDS)) {
          gc.destroyForcibly()
          fail = fail.orElse(Some("GcMain JVM hung past its deadline"))
        } else if (gc.exitValue != 0)
          fail = fail.orElse(Some(s"GcMain exited ${gc.exitValue}"))
        gcRuns += 1
      }
      if (!pub.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)) {
        pub.destroyForcibly()
        fail = fail.orElse(Some("publisher JVM hung past the deadline"))
      }
      val finalOk = fail.isEmpty && pub.exitValue == 0 && {
        val gc = VersionedWriterMain.launchJvm("graft.tools.GcMain",
          Seq(reg, "--keep", "6", "--member-keep", "1"))
        val gcDone = gc.waitFor(120, java.util.concurrent.TimeUnit.SECONDS)
        if (!gcDone) gc.destroyForcibly() // never leak a hung cron child
        gcDone && gc.exitValue == 0 &&
          PublishSet.versions(spark, reg).forall { v =>
            PublishSet.resolveVersion(spark, reg, v).forall {
              case (t, mv) =>
                VersionedTable.readVersion(spark, t, mv).count() >= 1L
            }
          }
      }
      spark.stop()
      if (!finalOk) {
        println("[cluster-smoke] GcMain-cron publish/GC FAIL: " +
          fail.getOrElse(s"publisher exit=${pub.exitValue} or final " +
            "GcMain/read-back failed"))
        failed = true
      } else
        println(s"[cluster-smoke] GcMain-cron publish/GC OK " +
          s"($nReleases publisher-JVM releases vs $gcRuns GcMain cron " +
          s"JVMs, $reads concurrent retained-release reads, " +
          s"$racedPrunes benign pruned-under-listing races, zero lost " +
          "releases, zero unreadable pins)")
    }

    // ---- PACED publisher × GcMain WITH COMPACTION (VERDICT r16
    // next-#6): the hammering shape above deliberately omits
    // --compact-max-files (a compactor racing a hammering publisher
    // exhausts bounded commit retries BY DESIGN — an operator pacing
    // decision); this shape is that operator pacing: the publisher
    // sleeps between releases (partitioned members, every merge
    // re-fragmenting both buckets), the cron runs the FULL maintenance
    // including bucket compaction, and this JVM reads retained
    // releases throughout. Invariants: every GcMain exits 0 despite
    // racing commits; no lost releases / unreadable retained pins;
    // fragmentation was OBSERVED while publishing (the compaction had
    // real work) and the final cron leaves every bucket within the
    // file budget — proof the compactor actually ran, not just parsed
    // its flag.
    {
      import graft.pipeline.{PublishSet, VersionedTable}
      val maxF = 2
      val base = java.nio.file.Files
        .createTempDirectory("graft-smoke-paced").toString
      val reg = s"$base/reg"
      val mA = s"$base/memA"
      val mB = s"$base/memB"
      val spark = builder("local[4]").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      import spark.implicits._
      def seed(root: String): Long = VersionedTable.write(spark, root,
        Seq(("p0", "seed", 0L), ("p1", "seed", 0L)).toDF("p", "k", "seq"),
        partitionBy = Seq("p"))
      PublishSet.publish(spark, reg, Map(mA -> seed(mA), mB -> seed(mB)),
        note = Some("epoch 0 rows 0"))
      // sampling probe only: a concurrent commit+sweep can prune the
      // version between the pointer read and the manifest read — an
      // empty sample is fine, the NEXT poll sees the fresh state
      def bucketFiles(root: String): Map[String, Int] =
        try VersionedTable.currentVersion(spark, root).toSeq.flatMap { v =>
          VersionedTable.manifestFiles(spark, root, v)
            .flatMap(_.split("/").find(_.startsWith("__pp_p=")))
        }.groupBy(identity).map { case (b, fs) => b -> fs.size }
        catch { case scala.util.control.NonFatal(_) => Map.empty }
      val nReleases = 8
      val pub = ReleasePublisherMain.launch(reg, mA, mB, nReleases,
        paceMs = 1500, partitioned = true)
      var gcRuns = 0
      var reads = 0
      var racedPrunes = 0
      var sawFragmentation = false
      var fail: Option[String] = None
      val deadline = System.currentTimeMillis() + 300 * 1000L
      while (pub.isAlive && fail.isEmpty &&
          System.currentTimeMillis() < deadline) {
        val gc = VersionedWriterMain.launchJvm("graft.tools.GcMain",
          Seq(reg, "--keep", "6", "--member-keep", "1",
            "--compact-max-files", maxF.toString))
        val (r, rp, f) = sweepRetainedReads(spark, reg, keep = 6, gc,
          deadline, onPoll = () => {
            if (Seq(mA, mB).exists(m =>
                bucketFiles(m).values.exists(_ > maxF)))
              sawFragmentation = true
          })
        reads += r; racedPrunes += rp; fail = fail.orElse(f)
        if (!gc.waitFor(120, java.util.concurrent.TimeUnit.SECONDS)) {
          gc.destroyForcibly()
          fail = fail.orElse(Some("GcMain JVM hung past its deadline"))
        } else if (gc.exitValue != 0)
          fail = fail.orElse(Some(s"compacting GcMain exited ${gc.exitValue}"))
        gcRuns += 1
      }
      if (!pub.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)) {
        pub.destroyForcibly()
        fail = fail.orElse(Some("paced publisher JVM hung past the deadline"))
      }
      // publisher quiesced: one final cron pass must leave every bucket
      // within budget, with content intact
      if (Seq(mA, mB).exists(r => bucketFiles(r).values.exists(_ > maxF)))
        sawFragmentation = true
      val finalOk = fail.isEmpty && pub.exitValue == 0 && {
        val gc = VersionedWriterMain.launchJvm("graft.tools.GcMain",
          Seq(reg, "--keep", "6", "--member-keep", "1",
            "--compact-max-files", maxF.toString))
        val gcDone = gc.waitFor(120, java.util.concurrent.TimeUnit.SECONDS)
        if (!gcDone) gc.destroyForcibly()
        gcDone && gc.exitValue == 0 && sawFragmentation &&
          Seq(mA, mB).forall(r => bucketFiles(r).values.forall(_ <= maxF)) &&
          PublishSet.versions(spark, reg).forall { v =>
            PublishSet.resolveVersion(spark, reg, v).forall {
              case (t, mv) =>
                VersionedTable.readVersion(spark, t, mv).count() >= 1L
            }
          }
      }
      spark.stop()
      if (!finalOk) {
        println("[cluster-smoke] paced publish/compact FAIL: " +
          fail.getOrElse(s"publisher exit=${pub.exitValue}, " +
            s"sawFragmentation=$sawFragmentation, or final " +
            "compaction/read-back failed"))
        failed = true
      } else
        println(s"[cluster-smoke] paced publish/compact OK " +
          s"($nReleases paced releases vs $gcRuns compacting GcMain " +
          s"cron JVMs, $reads concurrent reads, $racedPrunes benign " +
          s"races, fragmentation observed and compacted to <= $maxF " +
          "files/bucket, zero lost releases)")
    }

    if (failed) sys.exit(1)
    println(s"[cluster-smoke] all ${subset.size} queries match across " +
      "local-cluster[2,4,2048] and local[8]")
  }
}
