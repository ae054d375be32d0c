package graft

import graft.models.CurationModels
import graft.pipeline.Pipeline._
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The curation DAG end-to-end through the dbt-style Registry: profile
  * -> filter (redacted text) -> dedup -> decontaminate -> pack, with
  * the generic data-test suite green over the materialized outputs. */
class CurationPipelineSpec extends SparkSpec {
  import spark.implicits._

  /** Stopwords interleaved with per-doc unique tokens: every doc passes
    * the quality gate (length, stopword ratio, punct), and every
    * 5-token shingle contains a doc-unique token — so benchmark overlap
    * flags ONLY the genuinely shared doc, not a common template. */
  private def docText(i: Long): String =
    Seq("the", s"w${i}a", "of", s"w${i}b", "and", s"w${i}c", "to",
      s"w${i}d", "in", s"w${i}e", "is", s"w${i}f", "it", s"w${i}g",
      "that", s"w${i}h", "for", s"w${i}j", "a", s"w${i}k").mkString(" ")

  private def corpus() = {
    val good = (0L until 40L).map(i => (i, docText(i), "en", "web"))
    val dupes = Seq( // exact duplicates of doc 0's text under new ids
      (100L, docText(0), "en", "web"), (101L, docText(0), "en", "web"))
    val junk = Seq( // fails the quality gate (too short / all punct)
      (200L, "!!! ??? !!!", "en", "spam"),
      (201L, "x", "en", "spam"))
    val pii = Seq(
      (300L, docText(300) + " leak@example.com", "en", "web"))
    (good ++ dupes ++ junk ++ pii)
      .toDF("doc_id", "text", "lang", "source")
  }

  test("curation DAG: materialized stages enforce gates; data tests green") {
    val docs = corpus()
    // benchmark shares doc 1's exact text -> doc 1 is contaminated
    val bench = Seq((9001L, docs.filter($"doc_id" === 1L)
      .head.getString(1))).toDF("doc_id", "text")

    val tmp = Files.createTempDirectory("graft-curation").toString
    val cfg = RunConfig(env = Dev, warehouseRoot = tmp)
    val r = CurationModels.registry(spark, docs, bench)
    // profiling is ONE map-only projection — a shuffle here would mean
    // the stage regressed to joining the standalone operators' outputs
    val profPlan = r.resolve(cfg)(
      _("DOCS_PROFILED").queryExecution.executedPlan.toString)
    assert(!profPlan.contains("Exchange"), s"unexpected shuffle:\n$profPlan")
    val res = r.run(cfg, Seq("DOCS_PACKED", "DOCS_SHARDED"))
    assert(res.order.nonEmpty && res.resolved.contains("DOCS_PACKED"),
      s"pipeline run incomplete: ${res.order}")

    val filtered = spark.read.parquet(s"$tmp/DEV/3_MART___CURATION/DOCS_FILTERED")
    assert(!filtered.select("doc_id").as[Long].collect()
      .exists(id => id >= 200 && id < 300),
      "junk docs fail the quality gate")
    assert(filtered.filter($"doc_id" === 300L).head.getString(1)
      .contains("<EMAIL>"), "only redacted text ships forward")

    val deduped = spark.read.parquet(s"$tmp/DEV/3_MART___CURATION/DOCS_DEDUPED")
    val dupIds = deduped.select("doc_id").as[Long].collect().toSet
    assert(dupIds.contains(0L) && !dupIds.contains(100L) && !dupIds.contains(101L),
      "exact duplicates collapse to the keeper")

    val clean = spark.read.parquet(s"$tmp/DEV/3_MART___CURATION/DOCS_CLEAN")
    val cleanIds = clean.select("doc_id").as[Long].collect().toSet
    assert(!cleanIds.contains(1L), "benchmark-contaminated doc removed")
    assert(cleanIds.contains(2L), "uncontaminated docs kept")

    val packed = spark.read.parquet(s"$tmp/DEV/3_MART___CURATION/DOCS_PACKED")
    assert(packed.count() == clean.count(), "every clean doc gets a packing slot")
    assert(packed.columns.contains("seq_id") && packed.columns.contains("seq_offset"))

    val sharded = spark.read.parquet(s"$tmp/DEV/3_MART___CURATION/DOCS_SHARDED")
    assert(sharded.count() == clean.count(), "every clean doc gets a shard slot")
    // positions dense 0..n-1 within each shard (the loader contract)
    sharded.select("shard", "pos").as[(Long, Long)].collect()
      .groupBy(_._1).foreach { case (s, rows) =>
        val ps = rows.map(_._2).sorted.toSeq
        assert(ps == (0L until rows.length).toSeq, s"shard $s positions: $ps")
      }

    val tests = CurationModels.tests(r, cfg)
    assert(tests.forall(_.passed),
      s"data tests failed: ${tests.filterNot(_.passed)}")
  }

  test("mixture-sampled export: DOCS_SHARDED per-source counts match the t10 budgets") {
    // three sources with very different volumes: abundant web, smaller
    // books, and a scarce source that cannot fill its budget
    val docs = (
      (0L until 60L).map(i => (i, docText(i), "en", "web")) ++
      (100L until 115L).map(i => (i, docText(i), "en", "books")) ++
      Seq((200L, docText(200), "en", "ref"), (201L, docText(201), "en", "ref"))
    ).toDF("doc_id", "text", "lang", "source")
    val bench = Seq((9001L, "nothing shared here at all with anyone"))
      .toDF("doc_id", "text")
    val tmp = Files.createTempDirectory("graft-curation-mix").toString
    val cfg = RunConfig(env = Dev, warehouseRoot = tmp)
    val budget = 30L
    CurationModels.registry(spark, docs, bench, exportBudget = Some(budget))
      .run(cfg, Seq("DOCS_PACKED", "DOCS_SHARDED"))

    val clean = spark.read.parquet(s"$tmp/DEV/3_MART___CURATION/DOCS_CLEAN")
    // the budgets the DAG must have applied: t10's α-tempered weights
    // over the SAME gated relation, times the export budget, floor 1,
    // capped by what the source actually has
    val weights = graft.operators.TextAnalysis
      .domainMixture(clean, "text", "source", alpha = 0.7)
      .select($"source", $"mix_weight").as[(String, Double)].collect().toMap
    val avail = clean.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    val expected = weights.map { case (src, w) =>
      src -> math.min(math.max(1L, math.round(w * budget)), avail(src))
    }

    val sharded = spark.read.parquet(s"$tmp/DEV/3_MART___CURATION/DOCS_SHARDED")
    val got = sharded.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(got == expected,
      s"shard export must ship the t10 mixture, got $got expected $expected")
    // the scarce source is capped by availability, not its budget
    assert(got("ref") == 2L)
    // and the mixture genuinely resampled: fewer web docs than gated
    assert(got("web") < avail("web"))
    // packing runs over the SAMPLED set too
    val packed = spark.read.parquet(s"$tmp/DEV/3_MART___CURATION/DOCS_PACKED")
    assert(packed.count() == got.values.sum)
  }

  test("incremental curation: grown corpus gates only unseen docs; global stages rebuild") {
    val tmp = Files.createTempDirectory("graft-curation-inc").toString
    val cfg = RunConfig(env = Dev, warehouseRoot = tmp)
    val bench = Seq((9001L, "nothing shared here at all with anyone"))
      .toDF("doc_id", "text")

    var docs = corpus()
    CurationModels.registry(spark, docs, bench, incrementalFilter = true)
      .run(cfg, Seq("DOCS_PACKED", "DOCS_SHARDED"))
    val path = s"$tmp/DEV/3_MART___CURATION/DOCS_FILTERED"
    val n1 = spark.read.parquet(path).count()

    // the corpus grows: new good docs + one new junk doc; existing rows
    // unchanged (re-running their gates would be wasted work)
    docs = docs.unionByName(
      Seq((400L, docText(400), "en", "web"),
          (401L, docText(401), "en", "web"),
          (402L, "???", "en", "spam")).toDF("doc_id", "text", "lang", "source"))
    val r2 = CurationModels.registry(spark, docs, bench, incrementalFilter = true)
    r2.run(cfg, Seq("DOCS_PACKED", "DOCS_SHARDED"))

    val filtered = spark.read.parquet(path)
    assert(filtered.count() == n1 + 2, "only the two new good docs appended")
    val ids = filtered.select("doc_id").as[Long].collect().toSet
    assert(ids.contains(400L) && ids.contains(401L) && !ids.contains(402L))
    // downstream global stages rebuilt over the grown relation
    val packed = spark.read.parquet(s"$tmp/DEV/3_MART___CURATION/DOCS_PACKED")
    val packedIds = packed.select("doc_id").as[Long].collect().toSet
    assert(packedIds.contains(400L) && packedIds.contains(401L))
    assert(CurationModels.tests(r2, cfg).forall(_.passed))
  }

  test("perplexity gate: out-of-distribution doc dropped, in-distribution kept") {
    import graft.operators.TextAnalysis
    import graft.functions.GraftFunctions.md5Long
    // an OOD doc that PASSES the per-doc quality gates (letter-only
    // words, sane lengths — 3 of 4 quality quarters) but shares no
    // vocabulary with the corpus: every token scores at the OOV floor
    val ood = (500L,
      "zqxv wqplm mnbvc poiuy lkjhg fdsaq trewq yuiop asdfg hjklz " +
        "xcvbn qwert zxasd cvfgb nhyuj mkiol pqazw sxedc rfvtg byhnu",
      "en", "web")
    // a corpus large enough that the stage's 5% LM sample holds ~10
    // docs: the stopwords every doc shares then REPEAT in the sample
    // (cheap under the LM) while the OOD doc's vocabulary stays at the
    // OOV floor — with only 1-2 sampled docs all counts are equal and
    // every doc scores ln(total) uniformly
    val docs = ((0L until 200L).map(i => (i, docText(i), "en", "web")) ++
      Seq(ood)).toDF("doc_id", "text", "lang", "source")
    // derive a threshold BETWEEN the in-distribution band and the OOD
    // doc, using exactly the stage's LM construction (same 5% sample,
    // same vocab cutoff) so the pin is about the gate, not the model
    val gated = CurationModels.gateDocs(docs)
    val isLm = pmod(md5Long(col("doc_id")
      .cast(org.apache.spark.sql.types.StringType)), lit(20L)) === 0L
    val (lm, oov) = TextAnalysis.unigramLm(gated.filter(isLm), "text",
      vocab = 1000)
    val ce = TextAnalysis.lmCrossEntropy(gated, "text", "doc_id", lm, oov)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(ce.contains(500L), "the OOD doc must survive the per-doc gates")
    val maxIn = ce.filter(_._1 != 500L).values.max
    assert(ce(500L) > maxIn,
      s"OOD cross-entropy ${ce(500L)} must exceed the in-dist band $maxIn")
    val thr = (ce(500L) + maxIn) / 2

    val tmp = java.nio.file.Files.createTempDirectory("graft-cur-ppl").toString
    val cfg = RunConfig(env = Dev, warehouseRoot = tmp)
    val bench = Seq((9001L, docText(1))).toDF("doc_id", "text")
    CurationModels.registry(spark, docs, bench, perplexityGate = Some(thr))
      .run(cfg, Seq("DOCS_SCORED"))
    val scored = spark.read.parquet(s"$tmp/DEV/3_MART___CURATION/DOCS_SCORED")
      .select("doc_id").as[Long].collect().toSet
    assert(!scored.contains(500L), "OOD doc dropped by the perplexity gate")
    assert(scored.contains(0L) && scored.contains(2L),
      "in-distribution docs kept")
  }

  test("bigram gate separates scrambled text the unigram gate cannot") {
    import graft.operators.TextAnalysis
    import graft.functions.GraftFunctions.md5Long
    // fluent docs: a fixed 10-word frame repeated twice with doc-unique
    // fillers — strong, corpus-wide bigram structure
    val frame = Seq("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet")
    def fluent(i: Long) =
      (frame :+ s"w${i}a").mkString(" ") + " " + (frame :+ s"w${i}b").mkString(" ")
    // the adversary: an exact PERMUTATION of fluent(600)'s token
    // multiset with every frame adjacency broken — identical unigram
    // profile (same tokens, same OOV count), no seen bigrams
    val scrambled = Seq("juliet", "hotel", "foxtrot", "delta", "bravo",
      "w600a", "india", "golf", "echo", "charlie", "alpha", "juliet",
      "hotel", "foxtrot", "delta", "bravo", "w600b", "india", "golf",
      "echo", "charlie", "alpha").mkString(" ")
    val docs = ((0L until 200L).map(i => (i, fluent(i), "en", "web")) ++
      Seq((600L, scrambled, "en", "web"))).toDF("doc_id", "text", "lang", "source")
    val gated = CurationModels.gateDocs(docs)
    val isLm = pmod(md5Long(col("doc_id")
      .cast(org.apache.spark.sql.types.StringType)), lit(20L)) === 0L
    // the scrambled doc must not land in the LM sample (its bigrams
    // would train the model) — pinned, not assumed
    assert(gated.filter(isLm).filter(col("doc_id") === 600L).count() == 0)
    val (lm, oov) = TextAnalysis.unigramLm(gated.filter(isLm), "text",
      vocab = 1000)
    val ceU = TextAnalysis.lmCrossEntropy(gated, "text", "doc_id", lm, oov)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val maxInU = ceU.filter(_._1 != 600L).values.max
    assert(ceU(600L) <= maxInU + 1e-6,
      s"unigram CE cannot separate a permutation: ${ceU(600L)} vs band $maxInU")
    val (bi, uni, oovB, backoff) = TextAnalysis.bigramLm(gated.filter(isLm),
      "text", vocab = 1000, bigramVocab = 2000)
    val ceB = TextAnalysis.bigramCrossEntropy(gated, "text", "doc_id",
      bi, uni, oovB, backoff)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val maxInB = ceB.filter(_._1 != 600L).values.max
    assert(ceB(600L) > maxInB,
      s"bigram CE must separate: ${ceB(600L)} vs band $maxInB")
    val thr = (ceB(600L) + maxInB) / 2

    val tmp = java.nio.file.Files.createTempDirectory("graft-cur-bi").toString
    val cfg = RunConfig(env = Dev, warehouseRoot = tmp)
    val bench = Seq((9001L, fluent(1))).toDF("doc_id", "text")
    CurationModels.registry(spark, docs, bench, perplexityGate = Some(thr),
        bigramGate = true)
      .run(cfg, Seq("DOCS_SCORED"))
    val scored = spark.read.parquet(s"$tmp/DEV/3_MART___CURATION/DOCS_SCORED")
      .select("doc_id").as[Long].collect().toSet
    assert(!scored.contains(600L), "scrambled doc dropped by the bigram gate")
    assert(scored.contains(0L) && scored.contains(2L),
      "fluent docs kept")
  }

  test("host prior gate: peripheral syndicators dropped, the hub and " +
      "non-syndicated hosts kept") {
    // star syndication graph: host "hub" shares a distinct near-dup
    // passage with each of 4 leaf hosts (one trailing token differs, so
    // exact dedup keeps both copies but 10 five-shingles stay shared >=
    // the 3-edge threshold). PageRank: the hub ranks ~0.37 of the mass,
    // each leaf ~0.16 < the 0.2 uniform share -> leaves are measured
    // low authority and their docs (including their unique ones) drop;
    // "indep" has no syndication evidence and passes untouched.
    def passage(i: Int): String =
      Seq("the", s"p${i}a", "of", s"p${i}b", "and", s"p${i}c", "to",
        s"p${i}d", "in", s"p${i}e", "is", s"p${i}f", "it",
        s"p${i}g").mkString(" ")
    val docs = (
      (1 to 4).map(i => (400L + i, passage(i), "en", "hub")) ++
      (1 to 4).map(i => (500L + i, passage(i) + s" tail${i}x", "en",
        s"leaf$i")) ++
      Seq((410L, docText(410), "en", "hub"),
        (510L, docText(510), "en", "leaf1"),
        (600L, docText(600), "en", "indep"))
    ).toDF("doc_id", "text", "lang", "source")
    val bench = Seq((9001L, "benchmark only text nothing shared here"))
      .toDF("doc_id", "text")
    val tmp = Files.createTempDirectory("graft-curation-host").toString
    val cfg = RunConfig(env = Dev, warehouseRoot = tmp)
    CurationModels.registry(spark, docs, bench, hostPrior = true)
      .run(cfg, Seq("DOCS_HOST_GATED"))
    val gated = spark.read
      .parquet(s"$tmp/DEV/3_MART___CURATION/DOCS_HOST_GATED")
      .select("doc_id").as[Long].collect().toSet
    assert((401L to 404L).forall(gated.contains) && gated.contains(410L),
      s"hub docs kept: $gated")
    assert(gated.contains(600L), "non-syndicated host untouched")
    assert((501L to 504L).forall(id => !gated.contains(id)) &&
      !gated.contains(510L),
      s"low-authority leaf hosts dropped entirely: $gated")

    // unconfigured: identity pass-through of DOCS_CLEAN
    val tmp2 = Files.createTempDirectory("graft-curation-host2").toString
    val cfg2 = RunConfig(env = Dev, warehouseRoot = tmp2)
    CurationModels.registry(spark, docs, bench)
      .run(cfg2, Seq("DOCS_HOST_GATED"))
    val clean = spark.read
      .parquet(s"$tmp2/DEV/3_MART___CURATION/DOCS_CLEAN")
      .select("doc_id").as[Long].collect().toSet
    val passthrough = spark.read
      .parquet(s"$tmp2/DEV/3_MART___CURATION/DOCS_HOST_GATED")
      .select("doc_id").as[Long].collect().toSet
    assert(passthrough == clean)
  }
  test("lang gate: mislabeled-language docs dropped by the corpus's own classifier") {
    // two cleanly separable language vocabularies; four English docs
    // arrive DECLARED as French (the unreliable-crawl-metadata shape).
    // The NB fit on the deterministic 5% sample learns both
    // vocabularies from the declared labels (the handful of mislabeled
    // docs is noise the majority drowns out), and the gate drops
    // exactly the label-inconsistent docs.
    def en(i: Long) =
      s"the cat sits on the mat and the dog runs in the park w$i"
    def fr(i: Long) =
      s"le chat dort sur le tapis et le chien court dans le parc v$i"
    val docs = (
      (0L until 100L).map(i => (i, en(i), "en", "web")) ++
      (100L until 200L).map(i => (i, fr(i), "fr", "web")) ++
      (9001L to 9004L).map(i => (i, en(i), "fr", "web"))
    ).toDF("doc_id", "text", "lang", "source")
    val bench = Seq((77001L, "benchmark only text nothing shared here"))
      .toDF("doc_id", "text")
    val tmp = Files.createTempDirectory("graft-curation-lang").toString
    val cfg = RunConfig(env = Dev, warehouseRoot = tmp)
    CurationModels.registry(spark, docs, bench, langGate = true)
      .run(cfg, Seq("DOCS_LANG_GATED"))
    val gated = spark.read
      .parquet(s"$tmp/DEV/3_MART___CURATION/DOCS_LANG_GATED")
      .select("doc_id").as[Long].collect().toSet
    assert((9001L to 9004L).forall(id => !gated.contains(id)),
      s"mislabeled docs must drop: ${gated.filter(_ >= 9000L)}")
    assert((0L until 200L).forall(gated.contains),
      s"correctly-labeled docs must pass: ${(0L until 200L).filterNot(gated.contains)}")

    // unconfigured: identity pass-through
    val tmp2 = Files.createTempDirectory("graft-curation-lang2").toString
    val cfg2 = RunConfig(env = Dev, warehouseRoot = tmp2)
    CurationModels.registry(spark, docs, bench)
      .run(cfg2, Seq("DOCS_LANG_GATED"))
    val host = spark.read
      .parquet(s"$tmp2/DEV/3_MART___CURATION/DOCS_HOST_GATED")
      .select("doc_id").as[Long].collect().toSet
    val passthrough = spark.read
      .parquet(s"$tmp2/DEV/3_MART___CURATION/DOCS_LANG_GATED")
      .select("doc_id").as[Long].collect().toSet
    assert(passthrough == host)
  }

  test("DATA_CARD release gate: versions diff across runs; rollback is the undo") {
    import graft.pipeline.{DataTests, VersionedTable}
    val docs = corpus()
    val bench = Seq((9001L, "nothing shared zzz qqq www eee rrr"))
      .toDF("doc_id", "text")

    // ONE warehouse, successive runs -> successive VERSIONS of the card
    val tmp = Files.createTempDirectory("graft-card").toString
    val cfg = RunConfig(env = Dev, warehouseRoot = tmp)
    val cardRoot = s"$tmp/DEV/3_MART___CURATION/DATA_CARD"
    CurationModels.registry(spark, docs, bench).run(cfg, Seq("DATA_CARD"))
    assert(VersionedTable.currentVersion(spark, cardRoot) === Some(1L))
    val v1 = VersionedTable.read(spark, cardRoot)
    assert(v1.count() > 0)
    // an unchanged pipeline diffs clean
    assert(DataTests.cardDiff(v1, v1, maxRelDelta = 0.05).count() === 0L)

    // a config change (tight export budget) slashes the shipped volume:
    // run 2 publishes card v2, and the gate diffs v2 against v1 of the
    // SAME table
    CurationModels.registry(spark, docs, bench, exportBudget = Some(10L))
      .run(cfg, Seq("DATA_CARD"))
    assert(VersionedTable.currentVersion(spark, cardRoot) === Some(2L))
    val viol = DataTests.cardDiff(
      VersionedTable.readVersion(spark, cardRoot, 2L),
      VersionedTable.readVersion(spark, cardRoot, 1L),
      maxRelDelta = 0.05)
    assert(viol.count() > 0, "a slashed export budget must move the card")
    assert(viol.select("metric").as[String].collect().toSet
      .subsetOf(Set("n_docs", "n_tokens")))
    // wired as a standard check, it fails the release...
    val res = DataTests.runAll(Seq(
      DataTests.Check("DATA_CARD", "card_drift_vs_prev", viol)))
    assert(res.size === 1 && !res.head.passed)
    // ...and the undo is one manifest commit: the bad publish stays in
    // history, the live card is the good one again
    VersionedTable.rollback(spark, cardRoot, to = 1L)
    assert(DataTests.cardDiff(VersionedTable.read(spark, cardRoot), v1,
      maxRelDelta = 0.05).count() === 0L)

    // a group disappearing outright is always a violation (NULL delta)
    val dropped = v1.filter($"source" =!= "web")
    val gone = DataTests.cardDiff(dropped, v1, maxRelDelta = 0.05)
    assert(gone.count() > 0 &&
      gone.filter($"rel_delta".isNull).count() > 0)
  }

  test("RAG ingest loop: chunk -> stub embed -> versioned IVF index; recall gate rolls back a bad publish") {
    import graft.pipeline.VersionedTable
    val bench = Seq((9001L, "qq zz unrelated benchmark text"))
      .toDF("doc_id", "text")
    val tmp = Files.createTempDirectory("graft-rag").toString
    val cfg = RunConfig(env = Dev, warehouseRoot = tmp)
    def root(name: String) = s"$tmp/DEV/3_MART___CURATION/$name"

    // ---- publish 1: the full loop end-to-end ----
    val r1 = CurationModels.registry(spark, corpus(), bench)
    r1.run(cfg, Seq("RAG_CHUNK_INDEX"))
    val chunks1 = VersionedTable.read(spark, root("RAG_CHUNKS"))
    val mix = spark.read.parquet(s"$tmp/DEV/3_MART___CURATION/MIXTURE_SAMPLED")
    val expected = graft.operators.TextAnalysis.tokenWindowChunks(
      mix, "text", "doc_id", 64, 48)
    assert(chunks1.count() === expected.count(),
      "chunk stage must be exactly the t24 kernel over the export cut")
    val cb1 = VersionedTable.read(spark, root("RAG_CODEBOOK")).collect()
    assert(cb1.length === 8 && cb1.forall(_.getSeq[Double](1).size === 16))
    val idx1 = VersionedTable.read(spark, root("RAG_CHUNK_INDEX"))
    val n1 = idx1.count()
    assert(n1 === chunks1.count(), "every chunk lands in the index")
    assert(idx1.select("cell").distinct().as[Long].collect()
      .forall(c => c >= 0 && c < 8))
    assert(Seq("RAG_CHUNKS", "RAG_CODEBOOK", "RAG_CHUNK_INDEX").forall(m =>
      VersionedTable.currentVersion(spark, root(m)) === Some(1L)))
    // recall gate: a sane publish passes and does not roll back
    val g1 = CurationModels.ragRecallGate(spark, cfg, thresholdPpm = 1L)
    assert(g1.passed && g1.rolledBackTo.isEmpty && g1.nQueries > 0)
    assert(g1.recallPpm > 0 && g1.recallPpm <= 1000000L)

    // ---- publish 2: grown corpus, then a FAILING gate rolls back ----
    val grown = corpus().unionByName((400L until 420L)
      .map(i => (i, docText(i), "en", "web")).toDF("doc_id", "text", "lang", "source"))
    val r2 = CurationModels.registry(spark, grown, bench)
    r2.run(cfg, Seq("RAG_CHUNK_INDEX"))
    assert(VersionedTable.currentVersion(spark, root("RAG_CHUNK_INDEX"))
      === Some(2L))
    val idx2 = VersionedTable.read(spark, root("RAG_CHUNK_INDEX"))
    assert(idx2.count() > n1)
    // the refit-per-publish contract demands a FULL rewrite: a keyed
    // merge would keep a stale old-cell row for any chunk the new
    // codebook reassigns (review r13) — every chunk appears exactly once
    assert(idx2.count() ===
      VersionedTable.read(spark, root("RAG_CHUNKS")).count())
    assert(idx2.groupBy("chunk_id").count()
      .filter(col("count") > 1).count() === 0L,
      "no chunk may appear in two cells after a republish")
    // an impossible threshold models a recall regression: the gate must
    // ROLL BACK index + codebook to the pre-publish version, keeping
    // version 2 inspectable in history
    val g2 = CurationModels.ragRecallGate(spark, cfg, thresholdPpm = 1000001L)
    assert(!g2.passed && g2.rolledBackTo === Some(1L))
    assert(VersionedTable.read(spark, root("RAG_CHUNK_INDEX")).count() === n1,
      "rollback must restore the version-1 index content")
    assert(VersionedTable.read(spark, root("RAG_CODEBOOK")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
      .sameElements(cb1.map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)),
      "the codebook rolls back WITH the index it serves")
    // history: v2 (the bad publish) is still readable for forensics
    assert(VersionedTable.readVersion(spark, root("RAG_CHUNK_INDEX"), 2L)
      .count() > n1)
  }

  test("index card gate: serving frontier versioned per release; a degraded retrain trips cardDiff (r17)") {
    import graft.pipeline.VersionedTable
    val bench = Seq((9001L, "qq zz unrelated benchmark text"))
      .toDF("doc_id", "text")
    val tmp = Files.createTempDirectory("graft-idxcard").toString
    val cfg = RunConfig(env = Dev, warehouseRoot = tmp)
    def root(name: String) = s"$tmp/DEV/3_MART___CURATION/$name"
    CurationModels.registry(spark, corpus(), bench)
      .run(cfg, Seq("RAG_CHUNK_INDEX"))
    // first publish: no prior card -> passes by definition, card v1
    val g1 = CurationModels.indexCardGate(spark, cfg, maxRelDelta = 0.10)
    assert(g1.passed && g1.violations === 0L && g1.cardVersion === Some(1L))
    val c1 = VersionedTable.read(spark, root("INDEX_CARD")).collect()
    assert(c1.length === 4, "|ks| x |targets| choice rows")
    c1.foreach { r =>
      assert(r.getAs[Long]("recall_ppm") >= 0L &&
        r.getAs[Long]("recall_ppm") <= 1000000L)
      assert(r.getAs[Long]("scanned_ppm") > 0L &&
        r.getAs[Long]("scanned_ppm") <= 1000000L)
    }
    // degraded retrain: a collapsed codebook (every centroid identical)
    // sends the whole corpus into one cell, so every chosen operating
    // point's scanned fraction jumps to 10^6 — the frontier drift the
    // gate exists to catch. Nothing may be committed on a trip.
    val cbRoot = root("RAG_CODEBOOK")
    val cb1 = VersionedTable.read(spark, cbRoot).orderBy("cell").collect()
    VersionedTable.write(spark, cbRoot,
      cb1.map(r => (r.getLong(0), cb1.head.getSeq[Double](1)))
        .toSeq.toDF("cell", "centroid"))
    val g2 = CurationModels.indexCardGate(spark, cfg, maxRelDelta = 0.10)
    assert(!g2.passed && g2.violations > 0L && g2.cardVersion.isEmpty)
    assert(VersionedTable.currentVersion(spark, root("INDEX_CARD"))
      === Some(1L), "a tripped gate never advances the card")
    // restore the sane codebook: the identical frontier re-passes and
    // commits the next card version
    VersionedTable.rollback(spark, cbRoot, 1L)
    val g3 = CurationModels.indexCardGate(spark, cfg, maxRelDelta = 0.10)
    assert(g3.passed && g3.cardVersion === Some(2L))
    val c2 = VersionedTable.read(spark, root("INDEX_CARD")).collect()
    assert(c2.map(_.toSeq).toSet === c1.map(_.toSeq).toSet,
      "the accepted frontier is unchanged after the round trip")
    // the acknowledgment path: the drift semantics are SYMMETRIC (like
    // the data card's), so a deliberate frontier move needs force=true
    // — which commits the NEW baseline (violations still reported) so
    // later publishes diff against the acknowledged frontier
    VersionedTable.write(spark, cbRoot,
      cb1.map(r => (r.getLong(0), cb1.head.getSeq[Double](1)))
        .toSeq.toDF("cell", "centroid"))
    assert(!CurationModels.indexCardGate(spark, cfg, 0.10).passed)
    val g4 = CurationModels.indexCardGate(spark, cfg, maxRelDelta = 0.10,
      force = true)
    assert(g4.passed && g4.violations > 0L && g4.cardVersion === Some(3L))
    // against the acknowledged baseline the same frontier now passes
    val g5 = CurationModels.indexCardGate(spark, cfg, maxRelDelta = 0.10)
    assert(g5.passed && g5.violations === 0L && g5.cardVersion === Some(4L))
  }

  /** 200 docs of the shared-stopword shape and 100 of a repeated
    * 10-word frame (so cross-entropies differ between docs), gated and
    * written to parquet (a local relation would be folded into the
    * plan), and the stage's deterministic 5% LM sample of them. */
  private def gatedLmCorpus(): (org.apache.spark.sql.DataFrame,
                                org.apache.spark.sql.DataFrame) = {
    import graft.functions.GraftFunctions.md5Long
    val frame = Seq("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet")
    def framed(i: Long) =
      (frame :+ s"w${i}a").mkString(" ") + " " + (frame :+ s"w${i}b").mkString(" ")
    val path = Files.createTempDirectory("graft-cur-lm").toString + "/gated"
    CurationModels.gateDocs(((0L until 200L).map(i => (i, docText(i), "en", "web")) ++
        (200L until 300L).map(i => (i, framed(i), "en", "web")))
      .toDF("doc_id", "text", "lang", "source")).write.parquet(path)
    val gated = spark.read.parquet(path)
    (gated, gated.filter(pmod(md5Long(col("doc_id")
      .cast(org.apache.spark.sql.types.StringType)), lit(20L)) === 0L))
  }

  test("unigramLm fits in one SQL execution and returns the two-action fit's integers") {
    import graft.operators.{ExactLn, TextAnalysis}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val (_, sample) = gatedLmCorpus()
    val sentinel = "graft_lm_fit_sentinel"
    def isSentinel(qe: QueryExecution) = qe.analyzed.output.map(_.name) == Seq(sentinel)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
    }
    // vocab 20 cuts through the count ties, so the top-k order matters
    val vocab = 20
    spark.listenerManager.register(listener)
    val (lm, oov) = try {
      val fit = TextAnalysis.unigramLm(sample, "text", vocab)
      // the bus delivers in order: every execution before the sentinel's
      // is the fit's
      spark.range(1).toDF(sentinel).collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.asScala.exists(isSentinel) && System.nanoTime() < deadline)
        Thread.sleep(10)
      fit
    } finally spark.listenerManager.unregister(listener)
    assert(seen.asScala.exists(isSentinel), "the listener never saw the sentinel")
    assert(seen.asScala.takeWhile(!isSentinel(_)).size == 1,
      "the fit is one action, not a total plus a top-k")

    // the two-action formulation the fit replaced
    val counts = sample
      .select(explode(graft.functions.GraftFunctions.tokens(lower(col("text")))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
    val total = counts.agg(coalesce(sum(col("n")), lit(0L))).head.getLong(0)
    val top = counts.orderBy(col("n").desc, col("tok")).limit(vocab).collect()
    assert(lm.size == vocab)
    assert(lm == top.map(r =>
      r.getString(0) -> ExactLn.lnNanoFloor(r.getLong(1), total)).toMap)
    assert(oov == ExactLn.lnNanoFloor(1L, total))
  }

  test("DOCS_SCORED filters per row with one scoring pass and keeps the join formulation's docs") {
    import graft.expressions.{BigramLmScoreExpr, LmScoreExpr}
    import graft.operators.TextAnalysis
    import org.apache.spark.sql.execution.FilterExec
    val (gated, sample) = gatedLmCorpus()
    val bench = Seq((9001L, "nothing shared here at all with anyone"))
      .toDF("doc_id", "text")
    val (lm, oov) = TextAnalysis.unigramLm(sample, "text", vocab = 1000)
    val (bi, uni, oovB, backoff) = TextAnalysis.bigramLm(sample, "text",
      vocab = 1000, bigramVocab = 2000)
    Seq(
      false -> TextAnalysis.lmCrossEntropy(gated, "text", "doc_id", lm, oov),
      true -> TextAnalysis.bigramCrossEntropy(gated, "text", "doc_id",
        bi, uni, oovB, backoff)
    ).foreach { case (bigramGate, ce) =>
      // the second-highest cross-entropy: the gate keeps some docs and
      // drops the rest
      val ces = ce.select("cross_entropy").as[Double].collect()
      val levels = ces.distinct.sorted
      assert(levels.length >= 2, s"bigramGate=$bigramGate: one CE level")
      val thr = levels(levels.length - 2)
      val joined = gated.join(
          ce.filter(col("cross_entropy") <= thr).select("doc_id"), Seq("doc_id"))
        .select("doc_id").as[Long].collect().toSet
      val scored = CurationModels.registry(spark, gated, bench,
          perplexityGate = Some(thr), bigramGate = bigramGate)
        .model("DOCS_SCORED").build(Map("DOCS_FILTERED" -> gated))
      val kept = scored.select("doc_id").as[Long].collect().toSet
      assert(kept == joined, s"bigramGate=$bigramGate")
      assert(kept.nonEmpty && kept.size < ces.length, s"bigramGate=$bigramGate")
      val qe = scored.queryExecution
      assert(qe.optimizedPlan.collect { case j: org.apache.spark.sql.catalyst
        .plans.logical.Join => j }.isEmpty, s"bigramGate=$bigramGate: a join")
      val scorers = qe.sparkPlan.collect { case f: FilterExec =>
        f.condition.collect {
          case e: LmScoreExpr => e
          case e: BigramLmScoreExpr => e
        }
      }.flatten
      assert(scorers.size == 1,
        s"bigramGate=$bigramGate: the filter scores each row ${scorers.size} times")
    }
  }
}
