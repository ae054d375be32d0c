package graft.models

import graft.operators.{Dedup, KMeans, Similarity, TextAnalysis}
import graft.pipeline.Pipeline._
import graft.pipeline.VersionedTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The training-data curation pipeline as a dbt-style DAG — the
  * integration layer tying the reference-parity pipeline runtime
  * (Registry, materializations, env routing, data tests) to the
  * training-data operators. A user runs their whole curation flow
  * through the same `run`/`test`/`ProductionRun` machinery as the
  * reference's warehouse models:
  *
  *   DOCS_PROFILED   (view)  text profile + repetition + PII counts
  *   DOCS_FILTERED   (table) quality/repetition/PII gates, redacted text
  *   DOCS_SCORED     (table) CCNet-style LM perplexity gate (optional —
  *                           identity pass-through when unconfigured)
  *   DOCS_DEDUPED    (table) exact-dup keeper drop over the scored set
  *   DOCS_CLEAN      (table) decontaminated (benchmark 5-shingle overlap)
  *   DOCS_LANG_GATED (table) label-consistency filter: t21's NB
  *                           classifier fitted on the corpus's own 5%
  *                           sample drops docs whose predicted language
  *                           disagrees with the declared label
  *   DOCS_HOST_GATED (table) host-authority prior: PageRank over the
  *                           content-syndication host graph drops docs
  *                           from measured-low-authority hosts (identity
  *                           pass-through when unconfigured)
  *   MIXTURE_SAMPLED (table) t10 α-tempered per-source budgets applied
  *                           by t15's deterministic stratified sample —
  *                           the actual pretraining export cut (identity
  *                           pass-through when no budget is configured)
  *   DOCS_PACKED     (table) sequence packing per language shard
  *   DOCS_SHARDED    (table) deterministic training-order shard/position
  *
  * Every stage is the library operator, not a re-implementation — the
  * DAG adds materialization, lineage, and testability. Filter
  * thresholds are conservative defaults; a real deployment tunes them.
  */
object CurationModels {

  /** The DOCS_PROFILED projection as a standalone transform — ONE
    * map-only pass, not three doc_id self-joins: every profile family
    * is a per-row function of the same text, so joining the standalone
    * operators' outputs would buy three shuffles for nothing. The
    * columns reuse the SAME library functions the standalone operators
    * project (GraftFunctions / TextExpressions), so semantics cannot
    * drift. Standalone (not inlined in the Registry model) because the
    * per-doc gate chain is STATELESS — it runs unchanged on a
    * micro-batch inside [[graft.streaming.EventStreams
    * .curationStreamQuery]]'s foreachBatch, and extracting it is what
    * guarantees the streaming and batch DAG gates are the same code. */
  def profileDocs(documents: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions._
    val rep = graft.expressions.TextExpressions.repetitionStats(col("text"))
    val gop = graft.expressions.TextExpressions.gopherStats(col("text"))
    documents.select(col("doc_id"), col("text"), col("lang"), col("source"),
        qualityScore(col("text")).as("quality"),
        tokenCount(col("text")).cast(org.apache.spark.sql.types.LongType)
          .as("n_tokens"),
        rep.as("rep"),
        gop.as("gop"),
        patternCount(col("text"), emailRe).as("n_emails"),
        patternCount(col("text"), phoneRe).as("n_phones"),
        patternCount(col("text"), ipv4Re).as("n_ips"),
        redactPii(col("text")).as("redacted"))
      .withColumn("dup_token_frac",
        when(col("rep.n_tokens") > 0L,
          lit(1.0) - col("rep.n_distinct").cast("double") /
            col("rep.n_tokens").cast("double")).otherwise(0.0))
      .withColumn("top_bigram_frac",
        when(col("rep.n_tokens") > 1L,
          col("rep.top_bigram").cast("double") /
            (col("rep.n_tokens") - 1L).cast("double")).otherwise(0.0))
      // gopher-rule signals (t13's library semantics, same one-pass
      // projection): symbol density and alphabetic-word fraction are
      // the two rules safe to gate on without corpus-specific tuning
      .withColumn("symbol_ratio",
        when(col("gop.n_tokens") > 0L,
          col("gop.n_symbol_hits").cast("double") /
            col("gop.n_tokens").cast("double")).otherwise(0.0))
      .withColumn("alpha_frac",
        when(col("gop.n_tokens") > 0L,
          col("gop.n_alpha_toks").cast("double") /
            col("gop.n_tokens").cast("double")).otherwise(0.0))
      .drop("rep").drop("gop")
  }

  /** The DOCS_FILTERED gate over a profiled relation: quality /
    * repetition / Gopher thresholds, then only the REDACTED text ships
    * forward — raw text stops here. */
  def gateProfiled(profiled: DataFrame): DataFrame =
    profiled
      .filter(col("quality") >= 0.5 &&
        col("dup_token_frac") <= 0.9 && col("top_bigram_frac") <= 0.9 &&
        // the corpus-agnostic Gopher rules (published thresholds)
        col("symbol_ratio") <= 0.1 && col("alpha_frac") >= 0.8)
      .select(col("doc_id"), col("redacted").as("text"), col("lang"),
        col("source"), col("n_tokens"))

  /** profile + gate in one call — the per-document (stateless) prefix
    * of the curation DAG, shared verbatim by batch and streaming. */
  def gateDocs(documents: DataFrame): DataFrame =
    gateProfiled(profileDocs(documents))

  /** `incrementalFilter=true` switches DOCS_FILTERED to the Incremental
    * materialization: per-doc gates are embarrassingly incremental
    * (each doc's verdict depends only on itself), so a grown corpus
    * re-profiles ONLY unseen doc_ids. The corpus-GLOBAL stages
    * (dedup, decontamination, packing) stay full rebuilds by design —
    * their answers depend on the whole corpus, and pretending otherwise
    * would silently miss cross-batch duplicates. That split (cheap
    * incremental gates, periodic global passes) is how a production
    * curation pipeline actually runs. */
  /** `exportBudget`: total docs the MIXTURE_SAMPLED export cut should
    * ship; per-source budgets are the t10 α-tempered mixture weights
    * times this total (at least 1 per surviving source). None = no
    * sampling — MIXTURE_SAMPLED passes DOCS_CLEAN through unchanged. */
  /** `perplexityGate`: CCNet-style LM quality filter (Wenzek et al.
    * 2020) between the per-doc gates and dedup — build the t11 unigram
    * LM on the deterministic md5 5% sample OF THE GATED CORPUS, score
    * every doc (one compiled map-only pass), drop docs whose
    * cross-entropy exceeds the threshold (high = out-of-distribution /
    * noise). Corpus-global like dedup (the model depends on the whole
    * corpus) — a batch-by-design stage, same split the scaladoc above
    * documents. None = stage passes through unchanged. */
  /** `bigramGate`: score the perplexity gate with t14's backoff BIGRAM
    * LM (Wenzek's CCNet uses a 5-gram KenLM; the bigram is the first
    * order where context matters) instead of t11's unigram — same
    * sample contract, same one-compiled-pass scoring, strictly sharper
    * separation on scrambled-but-in-vocabulary noise (a unigram LM
    * cannot tell a shuffled document from a fluent one; the bigram
    * can — CurationPipelineSpec pins exactly that case). Ignored when
    * `perplexityGate` is None. */
  /** `hostPrior`: host-authority gate between decontamination and the
    * mixture cut — rank the host content-syndication graph
    * ([[graft.operators.Graph.hostSyndicationRank]], the d17 operator)
    * and drop documents whose host IS in the syndication network but
    * ranks at-or-below the uniform share (structurally peripheral
    * syndicators — the scraped-content tail). Hosts with no syndication
    * evidence pass untouched: absence of a link signal is not negative
    * evidence in a curation gate (d17's standalone report marks those
    * keep=false because it REPORTS authority; the gate consumes it as a
    * filter, where only measured low authority should drop data).
    * False = stage passes through unchanged. */
  /** `langGate`: label-consistency filter between the host prior and
    * the mixture cut — fit t21's multinomial Naive Bayes on the
    * deterministic md5 5% sample of the gated corpus (declared labels
    * as supervision) and DROP documents whose predicted language
    * disagrees with their declared one. Crawl lang metadata is
    * unreliable; a doc the corpus's own language model scores as
    * another language is mislabeled (wrong-language contamination in a
    * monolingual shard) or noise. Corpus-global like the perplexity
    * gate (the fit depends on the whole corpus) — batch by design.
    * False = stage passes through unchanged. */
  def registry(spark: SparkSession, documents: DataFrame,
               benchmark: DataFrame,
               incrementalFilter: Boolean = false,
               exportBudget: Option[Long] = None,
               perplexityGate: Option[Double] = None,
               bigramGate: Boolean = false,
               hostPrior: Boolean = false,
               langGate: Boolean = false): Registry = {
    val r = new Registry(spark)

    r.register(Model("DOCS_PROFILED", "2_STG___CURATION", Nil, View) { _ =>
      profileDocs(documents)
    })

    val filteredMat =
      if (incrementalFilter) Incremental(Seq("doc_id")) else Table
    r.register(Model("DOCS_FILTERED", "3_MART___CURATION",
        Seq("DOCS_PROFILED"), filteredMat) { deps =>
      val profiled = deps("DOCS_PROFILED")
      val delta = deps.get(This) match {
        // is_incremental(): gate only doc_ids not already materialized
        case Some(existing) =>
          profiled.join(existing.select(col("doc_id")), Seq("doc_id"),
            "left_anti")
        case None => profiled
      }
      gateProfiled(delta)
    })

    r.register(Model("DOCS_SCORED", "3_MART___CURATION",
        Seq("DOCS_FILTERED"), Table) { deps =>
      val d = deps("DOCS_FILTERED")
      perplexityGate match {
        case None => d
        case Some(maxCe) =>
          import graft.functions.GraftFunctions.md5Long
          // t11's contract end-to-end: deterministic 5% LM sample,
          // driver-literal model, one compiled scoring pass per doc
          val isLm = org.apache.spark.sql.functions.pmod(
            md5Long(col("doc_id").cast(
              org.apache.spark.sql.types.StringType)), lit(20L)) === 0L
          val score =
            if (bigramGate) {
              val (bi, uni, oov, backoff) = TextAnalysis.bigramLm(
                d.filter(isLm), "text", vocab = 1000, bigramVocab = 2000)
              graft.expressions.TextExpressions.bigramLmScore(col("text"),
                bi, uni, oov, backoff)
            } else {
              val (lm, oov) = TextAnalysis.unigramLm(d.filter(isLm), "text",
                vocab = 1000)
              graft.expressions.TextExpressions.lmScore(col("text"), lm, oov)
            }
          TextAnalysis.crossEntropyAtMost(d, score, maxCe)
      }
    })

    r.register(Model("DOCS_DEDUPED", "3_MART___CURATION",
        Seq("DOCS_SCORED"), Table) { deps =>
      Dedup.dropExactDuplicates(deps("DOCS_SCORED"), "text", "doc_id")
    })

    r.register(Model("DOCS_CLEAN", "3_MART___CURATION",
        Seq("DOCS_DEDUPED"), Table) { deps =>
      val d = deps("DOCS_DEDUPED")
      val contaminated = TextAnalysis.ngramOverlap(
        d, benchmark, "text", "doc_id", n = 5)
      d.join(contaminated.select(col("doc_id")), Seq("doc_id"), "left_anti")
    })

    r.register(Model("DOCS_HOST_GATED", "3_MART___CURATION",
        Seq("DOCS_CLEAN"), Table) { deps =>
      val d = deps("DOCS_CLEAN")
      if (!hostPrior) d
      else {
        val ranks = graft.operators.Graph
          .hostSyndicationRank(d, "text", "source")
        val nn = ranks.agg(count(lit(1)).as("n"))
        // measured-low-authority hosts: in the graph, at/below uniform
        // share (exact integer compare — the d17 gate's complement)
        val lowAuth = ranks.crossJoin(broadcast(nn))
          .filter(col("rank") * col("n") <= lit(1000000000000L))
          .select(col("host").as("source"))
        d.join(broadcast(lowAuth), Seq("source"), "left_anti")
      }
    })

    r.register(Model("DOCS_LANG_GATED", "3_MART___CURATION",
        Seq("DOCS_HOST_GATED"), Table) { deps =>
      val d = deps("DOCS_HOST_GATED")
      if (!langGate) d
      else {
        import graft.functions.GraftFunctions.md5Long
        val sample = d.filter(pmod(md5Long(col("doc_id")
          .cast(org.apache.spark.sql.types.StringType)), lit(20L)) === 0L)
        // literal fit (the t21 r12 contract): collected, boundary-
        // audited integers — same parameters as the in-plan replay
        val spark = d.sparkSession
        import spark.implicits._
        val m = TextAnalysis.naiveBayesFitLiterals(
          sample, "text", "lang", vocabSize = 300)
        val wrong = TextAnalysis.naiveBayesClassify(d, "text", "doc_id",
            "lang", m.priors.toDF("label", "prior_lp"),
            m.grid.toDF("label", "tok", "lp"))
          .filter(!col("is_correct"))
          .select(col("doc_id"))
        // no broadcast hint: the mislabeled set is corpus-proportional
        // in a dirty crawl — let AQE pick from runtime stats
        d.join(wrong, Seq("doc_id"), "left_anti")
      }
    })

    r.register(Model("MIXTURE_SAMPLED", "3_MART___CURATION",
        Seq("DOCS_LANG_GATED"), Table) { deps =>
      // the pretraining export cut (VERDICT r6 next-#7): t10 computes
      // α-tempered mixture weights over the gated corpus, t15's
      // deterministic md5-rank sample applies the derived per-source
      // budgets — so what ships downstream is the MIXTURE, not the raw
      // gated crawl. Budget floor 1: a source that survived the gates
      // is never silently zeroed by rounding.
      val d = deps("DOCS_LANG_GATED")
      exportBudget match {
        case None => d
        case Some(b) =>
          val budgets = TextAnalysis
            .domainMixture(d, "text", "source", alpha = 0.7)
            .select(col("source"),
              greatest(lit(1L), round(col("mix_weight") * lit(b.toDouble), 0)
                .cast(org.apache.spark.sql.types.LongType)).as("budget"))
          TextAnalysis.stratifiedSampleWeighted(d, "doc_id", "source", budgets)
            .drop("sample_rank")
      }
    })

    r.register(Model("DOCS_PACKED", "3_MART___CURATION",
        Seq("MIXTURE_SAMPLED"), Table) { deps =>
      TextAnalysis.packSequences(deps("MIXTURE_SAMPLED"),
        "text", "doc_id", "lang", cap = 512)
    })

    r.register(Model("DOCS_SHARDED", "3_MART___CURATION",
        Seq("MIXTURE_SAMPLED"), Table) { deps =>
      // deterministic training-order shuffle (t12's library operator):
      // the terminal relation a data loader reads shard by shard, in
      // position order — reproducible on any engine or partitioning
      val d = deps("MIXTURE_SAMPLED")
      graft.io.Export.assignShards(d, "doc_id", nShards = 8)
        .join(d, Seq("doc_id"))
        .select(col("shard"), col("pos"), col("doc_id"), col("text"),
          col("lang"), col("source"))
    })

    r.register(Model("DATA_CARD", "3_MART___CURATION",
        Seq("MIXTURE_SAMPLED"), Versioned()) { deps =>
      // the t22 datasheet over the EXPORT CUT — VERSIONED per run, so
      // the release gate (DataTests.cardDiff; VERDICT r11 next-#7)
      // diffs version N against N-1 of ONE table, and a bad publish
      // rolls back with VersionedTable.rollback while staying
      // inspectable in history
      val d = deps("MIXTURE_SAMPLED")
        .withColumn("__n_chars", length(col("text")))
      TextAnalysis.dataCardFromState(TextAnalysis.dataCardState(
        d, "text", "lang", "source", "__n_chars"))
    })

    // -----------------------------------------------------------------
    // RAG-INGEST LOOP (VERDICT r12 next-#4): the export cut flows on
    // into a serving index — chunk → stub-embed → versioned IVF — with
    // e18's recall report gating the publish ([[ragRecallGate]]). All
    // three stages are Versioned: readers pin a version, a bad publish
    // rolls back, history stays inspectable.
    // -----------------------------------------------------------------

    r.register(Model("RAG_CHUNKS", "3_MART___CURATION",
        Seq("MIXTURE_SAMPLED"), Versioned(uniqueKey = Seq("chunk_id"))) { deps =>
      // the t24 kernel; chunk_id packs (doc_id, chunk_idx) into the
      // single key every index stage downstream addresses
      TextAnalysis.tokenWindowChunks(deps("MIXTURE_SAMPLED"),
          "text", "doc_id", ragChunkCap, ragChunkStride)
        .withColumn("chunk_id",
          col("doc_id") * lit(ragChunkIdBase) + col("chunk_idx"))
    })

    r.register(Model("RAG_CODEBOOK", "3_MART___CURATION",
        Seq("RAG_CHUNKS"), Versioned(uniqueKey = Seq("cell"))) { deps =>
      // the coarse quantizer VERSIONED WITH the index it serves — the
      // codebook of index version N must always be readable next to N
      // (rollback restores both). Refit per publish at this scale; a
      // 100 TB deployment freezes the fit and lets the recall gate say
      // when to retrain (the e18/e20 contract).
      val emb = deps("RAG_CHUNKS").withColumn("emb",
        graft.multimodal.Multimodal.stubTextEmbedding(col("chunk_text"), ragDim))
      val m = KMeans.fit(emb, "emb", "chunk_id", k = ragK, dim = ragDim,
        seedTag = "rag")
      import spark.implicits._
      m.centroids.zipWithIndex
        .map { case (c, i) => (i.toLong, c) }.toDF("cell", "centroid")
    })

    r.register(Model("RAG_CHUNK_INDEX", "3_MART___CURATION",
        Seq("RAG_CHUNKS", "RAG_CODEBOOK"),
        // FULL REWRITE per publish (uniqueKey empty -> write, not
        // merge), cell-partitioned for probe-side pruning. A keyed
        // (cell, chunk_id) merge here would be WRONG (review r13):
        // RAG_CODEBOOK refits per publish, so a chunk whose cell
        // assignment moves would leave its stale old-cell row behind —
        // the merge's partition-scoped rewrite only touches the NEW
        // cells. The incremental (cell, chunk_id)-merge form belongs
        // with a FROZEN codebook, which is exactly what the streaming
        // tick ([[graft.streaming.EventStreams.ragIngestStreamQuery]])
        // and [[graft.io.IvfMaintenance.upsertVersioned]] do.
        Versioned(), partitionBy = Seq("cell")) { deps =>
      val cb = collectRagCodebook(deps("RAG_CODEBOOK"))
      val emb = deps("RAG_CHUNKS").withColumn("emb",
        graft.multimodal.Multimodal.stubTextEmbedding(col("chunk_text"), ragDim))
      Similarity.cellAssignments(emb, "emb", "chunk_id", cb)
        .withColumnRenamed("id", "chunk_id")
    })

    r
  }

  // RAG-ingest constants — the shared chunking trio lives in
  // TextAnalysis (one definition for DAG, stream, e22, and probe)
  private[models] val ragChunkCap = TextAnalysis.ChunkCap
  private[models] val ragChunkStride = TextAnalysis.ChunkStride
  private[models] val ragChunkIdBase = TextAnalysis.ChunkIdBase
  private[models] val ragDim = 16
  private[models] val ragK = 8

  // bounded collect (k rows — the sanctioned codebook literal contract)
  private def collectRagCodebook(cbTable: DataFrame): Seq[Seq[Double]] =
    cbTable.orderBy("cell").collect()
      .map(_.getSeq[Double](1).toSeq).toSeq

  final case class RagGateResult(recallPpm: Long, nQueries: Long,
                                 passed: Boolean, rolledBackTo: Option[Long])

  /** RECALL GATE on the published RAG index (e18's report as the
    * release gate, the cardDiff pattern): recall@k of the cell-pruned
    * search OVER THE STORED ASSIGNMENT vs the exact brute force, on the
    * deterministic 1-in-20 chunk sample. Integer PPM so the pass/fail
    * boundary is engine-exact. Below `thresholdPpm`, the publish ROLLS
    * BACK — index AND codebook together, to the version before the
    * gate's read — and the bad version stays inspectable in history.
    * Declared by SURVEY "Round-13 infrastructure": IVF publish gated by e18's
    * recall. */
  def ragRecallGate(spark: SparkSession, cfg: RunConfig,
                    thresholdPpm: Long): RagGateResult = {
    val (k, nProbe) = (5, 2) // recall@5 over the 2 nearest cells
    val idxRoot = memberRoot(cfg, "RAG_CHUNK_INDEX")
    val cbRoot = memberRoot(cfg, "RAG_CODEBOOK")
    val idxV = VersionedTable.currentVersion(spark, idxRoot).getOrElse(
      throw new IllegalStateException("ragRecallGate: no published index"))
    val index = VersionedTable.readVersion(spark, idxRoot, idxV)
    val cb = collectRagCodebook(VersionedTable.read(spark, cbRoot))
    val queries = index.filter(pmod(col("chunk_id"), lit(20L)) === 0)
      .select(col("chunk_id").as("id"), col("v"))
    val corpus = index.select(col("chunk_id").as("id"), col("v"))
    val bf = Similarity.bruteForceTopK(corpus, queries, "v", "id", k)
      .select(col("query_id"), col("id"))
    val ivf = Similarity.ivfTopKOnAssigned(
        index.select(col("chunk_id").as("id"), col("v"), col("cell")),
        queries, "v", "id", k, cb, nProbe)
      .select(col("query_id"), col("id"))
    val agg = bf.join(ivf, Seq("query_id", "id"), "left_semi")
      .agg(count(lit(1)).as("hits"))
      .crossJoin(queries.agg(count(lit(1)).as("nq")))
      .select(col("hits"), col("nq")).head
    val (hits, nq) = (agg.getLong(0), agg.getLong(1))
    val recallPpm = if (nq == 0) 1000000L else hits * 1000000L / (nq * k)
    val passed = recallPpm >= thresholdPpm
    val rolledBackTo =
      if (passed) None
      else {
        // index and codebook publish in the SAME registry run, so their
        // versions advance in lockstep; a crash between the two commits
        // desyncs them, and rolling back mismatched pairs would serve
        // centroids that never matched the restored assignments. Guard
        // BOTH sides before touching either (review r13) — a desync is
        // a republish-from-the-DAG situation, not a rollback.
        val cbV = VersionedTable.currentVersion(spark, cbRoot).getOrElse(
          throw new IllegalStateException(
            "ragRecallGate: no published codebook next to the index"))
        val to = idxV - 1
        require(to >= 1 && cbV >= 2,
          s"ragRecallGate: cannot roll back (index v$idxV, codebook " +
            s"v$cbV) — a first publish or a desynced pair; re-run the " +
            "RAG stages (raise nProbe or retrain) instead")
        VersionedTable.rollback(spark, idxRoot, to)
        VersionedTable.rollback(spark, cbRoot, cbV - 1)
        Some(to)
      }
    RagGateResult(recallPpm, nq, passed, rolledBackTo)
  }

  /** INDEX CARD — the published index's measured serving frontier as a
    * bounded relation (VERDICT r16 next-#8): the exact (nProbe × k)
    * operating sweep over the current index+codebook (e25's gated
    * kernel) reduced to the e28-style CHOICE per (k, recall target)
    * ([[Similarity.cheapestMeetingCell]]). This is the operating point a serving team
    * reads off the release; versioned next to the release so a retrain
    * that degrades the cost/recall frontier is a DIFFABLE event, not a
    * silent regression. Bounded: k ∈ {1, 5} × targets {60%, 90%}
    * (probe widths 1, 2, 4) = 4 rows, computed from the 1-in-20 chunk
    * sample against the stored index. */
  def indexCard(spark: SparkSession, cfg: RunConfig): DataFrame = {
    val index = VersionedTable.read(spark, memberRoot(cfg, "RAG_CHUNK_INDEX"))
    val cb = collectRagCodebook(
      VersionedTable.read(spark, memberRoot(cfg, "RAG_CODEBOOK")))
    val corpus = index.select(col("chunk_id").as("id"), col("v"))
    val queries = index.filter(pmod(col("chunk_id"), lit(20L)) === 0)
      .select(col("chunk_id").as("id"), col("v"))
    val grid = Similarity.ivfOperatingSweepExact(corpus, queries, "v", "id",
      ks = Seq(1, 5), codebook = cb, nProbes = Seq(1, 2, 4))
    import spark.implicits._
    // the exact sweep has no shortlist/family axes, so the cost tail is
    // probe count alone
    Similarity.cheapestMeetingCell(grid,
        Seq(600000L, 900000L).toDF("target_ppm"), Seq("k", "target_ppm"),
        Seq(col("n_probe").asc))
      .select(col("k"), col("target_ppm"), col("n_probe"),
        col("recall_ppm"), col("scanned_ppm"),
        col("meets").as("meets_target"))
  }

  final case class IndexCardGateResult(violations: Long, passed: Boolean,
                                       cardVersion: Option[Long])

  /** FRONTIER GATE on the index card (VERDICT r16 next-#8): diff the
    * candidate publish's card against the last ACCEPTED card with the
    * SAME [[graft.pipeline.DataTests.cardDiff]] the data card gates
    * through. The drift semantics are the data card's — SYMMETRIC: any
    * move of a chosen operating point beyond `maxRelDelta` (probe cost
    * up, recall down, a target newly unmet — or a large IMPROVEMENT,
    * which is just as much an unreviewed model change) trips the gate,
    * and a human acknowledges it by re-running with `force = true`,
    * which commits the new card as the accepted baseline (with the
    * violation count still reported) so subsequent publishes diff
    * against the acknowledged frontier instead of wedging on it. On
    * pass (or force) the card commits as its own versioned table (the
    * INDEX_CARD sibling of the release members), one card per accepted
    * release; on trip nothing is written and the caller skips/rolls
    * back the publish (the [[ragRecallGate]] convention). First publish
    * (no prior card) passes by definition.
    * Declared by README row "Round-17 ext": versioned index card + frontier
    * gate. */
  def indexCardGate(spark: SparkSession, cfg: RunConfig,
                    maxRelDelta: Double, force: Boolean = false)
      : IndexCardGateResult = {
    val cardRoot = memberRoot(cfg, "INDEX_CARD")
    val card = indexCard(spark, cfg)
    val nViol = VersionedTable.currentVersion(spark, cardRoot).fold(0L) { _ =>
      graft.pipeline.DataTests.cardDiff(card,
          VersionedTable.read(spark, cardRoot), maxRelDelta,
          keys = Seq("k", "target_ppm"),
          metrics = Seq("n_probe", "recall_ppm", "scanned_ppm",
            "meets_target"))
        .count()
    }
    if (nViol > 0 && !force) IndexCardGateResult(nViol, passed = false, None)
    else IndexCardGateResult(nViol, passed = true,
      Some(VersionedTable.write(spark, cardRoot, card)))
  }

  private def memberRoot(cfg: RunConfig, name: String): String =
    graft.pipeline.Pipeline.materializationPath(cfg, "3_MART___CURATION", name)

  /** The generic data-test suite for the curation DAG outputs (one
    * Spark action over [[Registry.resolve]]'s on-demand resolution,
    * dbt-test semantics). */
  def tests(r: Registry, cfg: RunConfig): Seq[graft.pipeline.DataTests.CheckResult] =
    r.resolve(cfg) { rel =>
      import graft.pipeline.DataTests._
      import graft.functions.GraftFunctions.{emailRe, patternCount}
      runAll(Seq(
        Check("DOCS_FILTERED", "doc_id_not_null",
          notNull(rel("DOCS_FILTERED"), "doc_id")),
        Check("DOCS_FILTERED", "text_not_null",
          notNull(rel("DOCS_FILTERED"), "text")),
        Check("DOCS_DEDUPED", "doc_id_unique",
          unique(rel("DOCS_DEDUPED"), Seq("doc_id"))),
        Check("DOCS_PACKED", "seq_id_not_null",
          notNull(rel("DOCS_PACKED"), "seq_id")),
        Check("DOCS_SHARDED", "shard_pos_unique",
          unique(rel("DOCS_SHARDED"), Seq("shard", "pos"))),
        // singular test: the shipped text was redacted upstream, so no
        // email pattern may survive to the clean relation
        Check("DOCS_CLEAN", "no_email_pii",
          rel("DOCS_CLEAN").filter(patternCount(col("text"), emailRe) > 0))))
    }
}
