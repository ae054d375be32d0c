package graft.operators

import graft.functions.GraftFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators over the `documents` table — the per-document
  * feature pass a training-data pipeline runs before filtering/dedup.
  * One narrow projection, no shuffle: at 100 TB this is a single
  * map-only stage over the corpus, and every function is a codegen'd
  * Column expression ([[graft.functions.GraftFunctions]]).
  */
object TextAnalysis {

  /** Full per-document profile: language guess, token counts, quality
    * score, fingerprints. */
  def profile(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(
      col(idCol).as("doc_id"),
      langId(col(textCol)).as("lang_pred"),
      tokenCount(col(textCol)).cast(LongType).as("n_tokens"),
      bpeTokenCount(col(textCol)).cast(LongType).as("n_bpe_tokens"),
      length(col(textCol)).cast(LongType).as("n_chars"),
      punctCount(col(textCol)).cast(LongType).as("n_punct"),
      qualityScore(col(textCol)).as("quality"),
      fingerprint(col(textCol)).as("fp"),
      rollingHash(col(textCol)).as("rolling_fp"))

  /** Corpus token statistics grouped by a label column: whitespace
    * tokens next to the BPE-unit count. */
  def tokenStats(df: DataFrame, textCol: String, byCol: String): DataFrame =
    df.groupBy(col(byCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(tokenCount(col(textCol)).cast(LongType)).as("total_tokens"),
        sum(bpeTokenCount(col(textCol)).cast(LongType)).as("total_bpe_tokens"),
        min(length(col(textCol))).cast(LongType).as("min_chars"),
        max(length(col(textCol))).cast(LongType).as("max_chars"))

  /** TOKEN-WINDOW CHUNKER — the fixed-window-with-overlap document
    * splitter every RAG index and long-context pipeline runs before
    * embedding (factored out of the t24 query body in r13 so the
    * curation DAG's RAG-ingest stage and the checked query share ONE
    * kernel): chunk i covers tokens [i·stride, i·stride+cap) of the
    * whitespace stream, the final chunk truncated at the document end.
    * Emits (doc_id, chunk_idx, tok_start, n_toks, chunk_text).
    * Complementary to [[packSequences]] (which PACKS docs up to a
    * budget; this SPLITS docs into overlapping windows).
    *
    * Scale shape: map-only — tokenize, explode a per-doc chunk-index
    * sequence (bounded by len/stride), slice + join per chunk; no
    * shuffle at any corpus size. */
  /** Shared RAG chunking constants — ONE definition (review r13: the
    * base was hardcoded in four call sites; a future widening would
    * have silently diverged the stream, the checked query's pack AND
    * unpack, and the probe): the default token window, and the packing
    * base folding (doc_id, chunk_idx) into the single `chunk_id` every
    * index stage keys on (chunk_idx < ChunkIdBase is guaranteed for
    * any document under ChunkIdBase·stride ≈ 4.8M tokens). */
  val ChunkCap = 64
  val ChunkStride = 48
  val ChunkIdBase = 100000L

  def tokenWindowChunks(df: DataFrame, textCol: String, idCol: String,
                        cap: Int, stride: Int): DataFrame = {
    require(cap > 0 && stride > 0 && stride <= cap,
      s"bad chunk window: cap=$cap stride=$stride (need 0 < stride <= cap)")
    df.select(col(idCol).as("doc_id"), tokens(lower(col(textCol))).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L),
          expr(s"CAST((size(toks) - 1) div $stride AS BIGINT)")))
          .as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * stride).as("tok_start"),
        slice(col("toks"),
          (col("chunk_idx") * stride + 1).cast(IntegerType),
          lit(cap)).as("ch"))
      .select(col("doc_id"), col("chunk_idx"), col("tok_start"),
        size(col("ch")).cast(LongType).as("n_toks"),
        array_join(col("ch"), " ").as("chunk_text"))
  }

  /** Sequence packing — concat-and-chunk assignment for pretraining:
    * documents are concatenated in `idCol` order within each `shardCol`
    * shard and split into fixed-`cap`-token training sequences; each doc
    * gets (seq_id, seq_offset) = where its first token lands. Pure
    * arithmetic on one running-total window, so the layout is
    * deterministic and reproducible on any engine/partitioning.
    *
    * At scale: ONE shuffle, keyed by the shard column — exactly the
    * per-worker packing a real pipeline runs (each worker packs its own
    * shard; a global ORDER BY window would be a single-partition
    * scale-killer and is deliberately not offered).
    */
  def packSequences(df: DataFrame, textCol: String, idCol: String,
                    shardCol: String, cap: Int): DataFrame = {
    // window ordering references the post-projection name ("doc_id"),
    // not idCol — the select below renames idCol away
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardCol)).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.select(col(idCol).as("doc_id"), col(shardCol),
        tokenCount(col(textCol)).cast(LongType).as("n_tokens"))
      .withColumn("start_tok", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col(shardCol), col("n_tokens"),
        expr(s"start_tok div $cap").as("seq_id"),
        pmod(col("start_tok"), lit(cap.toLong)).as("seq_offset"))
  }

  /** NO-SPLIT sequence packing — first-fit-decreasing bin packing
    * (Johnson 1973; the padding-minimizing packer of "Efficient
    * Sequence Packing" pipelines): each document goes WHOLE into one
    * fixed-`cap`-token bin, unlike [[packSequences]] which concatenates
    * and lets documents straddle sequence boundaries. Within each
    * `shardCol` shard, documents are sorted (n_tokens DESC, doc_id)
    * and each is placed into the lowest-indexed bin whose fill + n ≤
    * cap, else opens a new bin — the classic 11/9·OPT+1 guarantee. A
    * document larger than `cap` alone opens (and overfills) its own
    * bin; no other document ever joins it, so the cap invariant holds
    * for every multi-doc bin.
    *
    * At scale: ONE shuffle keyed by the shard column, then a purely
    * per-group sequential pass — the shard is the parallelism AND
    * memory knob (a real pipeline shards to ~10³ docs/group, so the
    * in-memory per-group state is a bounded fill array; corpus size
    * grows the shard COUNT, never the group). The sequential pass is
    * inherent to FFD — any "parallel FFD" over one shard changes the
    * packing — which is why the shard contract, not a global sort, is
    * the operator's scale story (same argument as [[packSequences]]).
    * Deterministic: total order (−n, id) within the shard, so the
    * output is invariant to input partitioning.
    *
    * Output: (shard STRING, doc_id, n_tokens, bin_id, bin_off) —
    * bin_id is 0-based within the shard; bin_off is the document's
    * token offset within its bin (the bin's fill at placement time),
    * so (bin_id, bin_off, n_tokens) IS the physical training-sequence
    * layout a shard writer consumes — no second pass needed.
    */
  def packFirstFitDecreasing(df: DataFrame, textCol: String, idCol: String,
                             shardCol: String, cap: Long): DataFrame = {
    require(cap > 0, s"pack capacity must be positive, got $cap")
    val sp = df.sparkSession
    import sp.implicits._
    // NULL text packs as a zero-token doc (a NULL would kill the
    // primitive-Long encoder below; packSequences keeps NULL instead —
    // there the row is arithmetic, here it must occupy a bin slot)
    val base = df.select(col(shardCol).cast(StringType).as("shard"),
        col(idCol).cast(LongType).as("doc_id"),
        coalesce(tokenCount(col(textCol)).cast(LongType), lit(0L))
          .as("n_tokens"))
      .as[(String, Long, Long)]
    base.groupByKey(_._1).flatMapGroups { (shard, it) =>
      val docs = it.map(t => (t._2, t._3)).toArray
        .sortBy { case (id, n) => (-n, id) }
      val fills = scala.collection.mutable.ArrayBuffer.empty[Long]
      docs.iterator.map { case (id, n) =>
        var b = 0
        while (b < fills.length && fills(b) + n > cap) b += 1
        val off = if (b == fills.length) { fills += n; 0L }
                  else { val o = fills(b); fills(b) += n; o }
        (shard, id, n, b.toLong, off)
      }
    }.toDF("shard", "doc_id", "n_tokens", "bin_id", "bin_off")
  }

  /** CORPUS-FREQUENT SEGMENT REMOVAL — the C4/CCNet "boilerplate
    * line" filter (Raffel et al. 2020 drop lines appearing ≥3 times;
    * CCNet dedups paragraphs by corpus hash) re-expressed over a
    * newline-free token stream: the segmentation unit is the t24
    * window kernel at stride == cap (non-overlapping `segTokens`-token
    * segments; on corpora WITH line structure the caller chunks on
    * newlines instead — the unit is pluggable, the df-and-drop
    * pipeline identical). A segment is boilerplate when its EXACT
    * lowercased text occurs in ≥ `minDocFreq` distinct documents;
    * every occurrence is dropped and each document's surviving
    * segments are re-joined in order.
    *
    * Output: (doc_id, n_segments, n_dropped, n_toks_kept, clean_text)
    * — clean_text is `''` (not NULL) when every segment drops;
    * documents with no tokens are absent (the t24 contract).
    *
    * At scale: segmentation is map-only and MATERIALIZED ONCE
    * (localCheckpoint — the relation is consumed by both the
    * df-count branch and the join-back branch; without the cut the
    * corpus tokenize+chunk+md5 pass runs twice, the same
    * double-consumption shape t19's idf split measured at +40%);
    * doc-frequency runs on the 60-bit md5 of the segment — one
    * distinct (seg_h, doc) exchange + a map-side-combinable count
    * over hash-only rows (the df branch never carries text); the df
    * relation joins back by seg_h (shuffle equi-join, no broadcast
    * assumption — at 100 TB the df table is corpus-sized), with the
    * segment text riding that exchange and the doc-keyed rebuild —
    * two text-bearing exchanges total, both corpus-proportional. A
    * 60-bit collision merely merges two segments' counts IDENTICALLY
    * on both engines (production would widen to 128-bit). */
  def boilerplateFilter(df: DataFrame, textCol: String, idCol: String,
                        segTokens: Int, minDocFreq: Long): DataFrame = {
    require(minDocFreq >= 2, s"minDocFreq must be >= 2, got $minDocFreq")
    val segs = tokenWindowChunks(df, textCol, idCol, segTokens, segTokens)
      .select(col("doc_id"), col("chunk_idx"), col("n_toks"),
        col("chunk_text"),
        graft.functions.GraftFunctions.md5Long(col("chunk_text"))
          .as("seg_h"))
      .localCheckpoint(false)
    val dfreq = segs.select(col("seg_h"), col("doc_id")).distinct()
      .groupBy(col("seg_h")).agg(count(lit(1)).as("seg_df"))
    val kept = col("seg_df") < minDocFreq
    segs.join(dfreq, Seq("seg_h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"),
        sum(when(!kept, 1L).otherwise(0L)).as("n_dropped"),
        coalesce(sum(when(kept, col("n_toks"))), lit(0L))
          .as("n_toks_kept"),
        array_join(transform(
            array_sort(collect_list(
              when(kept, struct(col("chunk_idx"), col("chunk_text"))))),
            s => s.getField("chunk_text")), " ").as("clean_text"))
  }

  /** CROSS-DOCUMENT SEGMENT DEDUPLICATION — CCNet's paragraph-level
    * dedup (Wenzek et al. 2020: hash every paragraph corpus-wide and
    * keep exactly ONE copy), re-expressed over the same newline-free
    * segmentation unit as [[boilerplateFilter]] (t24's window kernel at
    * stride == cap; a line-structured corpus chunks on newlines
    * instead). Complements t26: the boilerplate filter drops EVERY
    * occurrence of a segment once its doc frequency clears a threshold,
    * while this operator keeps the FIRST occurrence (min (doc_id,
    * chunk_idx) — CCNet keeps one copy, so the corpus-wide token mass
    * of each distinct segment is preserved exactly once) and drops
    * every later repetition, rewriting each document from its surviving
    * segments. An exact duplicate document therefore survives as its
    * first copy and empties to `''` in every later copy.
    *
    * Output: (doc_id, n_segments, n_dropped, n_toks_kept, clean_text) —
    * the t26 shape; documents with no tokens are absent (t24 contract).
    *
    * At scale: segmentation is map-only and MATERIALIZED ONCE
    * (localCheckpoint — consumed by both the keeper branch and the
    * join-back, the t19/t26 double-consumption shape); the keeper per
    * segment hash is `min(struct(doc_id, chunk_idx))` — a map-side
    * partial-aggregable min over HASH-ONLY rows (no window sort, no
    * text on the keeper exchange); keepers join back by seg_h (shuffle
    * equi-join — the keeper relation is corpus-sized, never broadcast)
    * and one doc-keyed rebuild aggregate follows. Two text-bearing
    * exchanges total, both corpus-proportional — identical to t26's
    * budget. A 60-bit collision merges two segments' keeper choice
    * IDENTICALLY on both engines (production widens to 128-bit). */
  def segmentDedupFirst(df: DataFrame, textCol: String, idCol: String,
                        segTokens: Int): DataFrame = {
    val segs = tokenWindowChunks(df, textCol, idCol, segTokens, segTokens)
      .select(col("doc_id"), col("chunk_idx"), col("n_toks"),
        col("chunk_text"),
        graft.functions.GraftFunctions.md5Long(col("chunk_text"))
          .as("seg_h"))
      .localCheckpoint(false)
    val keepers = segs
      .groupBy(col("seg_h"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("keeper"))
    val kept = col("doc_id") === col("keeper.doc_id") &&
      col("chunk_idx") === col("keeper.chunk_idx")
    segs.join(keepers, Seq("seg_h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"),
        sum(when(!kept, 1L).otherwise(0L)).as("n_dropped"),
        coalesce(sum(when(kept, col("n_toks"))), lit(0L))
          .as("n_toks_kept"),
        array_join(transform(
            array_sort(collect_list(
              when(kept, struct(col("chunk_idx"), col("chunk_text"))))),
            s => s.getField("chunk_text")), " ").as("clean_text"))
  }

  /** DELTA form of [[segmentDedupFirst]] — keep-first segment dedup of
    * a BATCH against the segment registry of everything already
    * ingested (streaming CCNet: the crawl's paragraph-hash table is
    * accreted tick by tick; a segment survives in the first document,
    * ever, that carried it). A batch segment drops if its hash is in
    * `seenSegs` (one `seg_h` column — the registry) OR a smaller
    * (doc_id, chunk_idx) in the SAME batch carries it; documents
    * rebuild from survivors. Returns (cleaned, newSegs): append
    * `newSegs` (the batch's first-occurrence hashes, one row per new
    * hash) to the registry and the fold equals [[segmentDedupFirst]]
    * on everything ever seen, restricted to batch docs — provided
    * batches arrive in keeper order (the registry stores no
    * (doc,idx), so cross-tick "first" means first-ARRIVED; the d02
    * keeper-stable contract, stated on [[Dedup.mergeFingerprintRepState]]).
    *
    * At scale: segmentation is map-only, materialized once; the
    * registry probe is one hash-keyed left join (no text on the state
    * side — the registry is a single-column relation); the within-batch
    * keeper is the same hash-only min(struct) as the static form; the
    * per-tick cost is batch-proportional.
    *
    * Output `cleaned`: the [[segmentDedupFirst]] shape. */
  def segmentDedupDelta(batch: DataFrame, textCol: String, idCol: String,
                        segTokens: Int, seenSegs: DataFrame)
      : (DataFrame, DataFrame) = {
    val segs = tokenWindowChunks(batch, textCol, idCol, segTokens, segTokens)
      .select(col("doc_id"), col("chunk_idx"), col("n_toks"),
        col("chunk_text"),
        graft.functions.GraftFunctions.md5Long(col("chunk_text"))
          .as("seg_h"))
      .join(seenSegs.select(col("seg_h"), lit(true).as("in_state")),
        Seq("seg_h"), "left_outer")
      .withColumn("in_state", coalesce(col("in_state"), lit(false)))
      .localCheckpoint(false)
    val keepers = segs.filter(!col("in_state"))
      .groupBy(col("seg_h"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("keeper"))
    val kept = !col("in_state") &&
      col("doc_id") === col("keeper.doc_id") &&
      col("chunk_idx") === col("keeper.chunk_idx")
    val cleaned = segs.join(keepers, Seq("seg_h"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"),
        sum(when(!kept, 1L).otherwise(0L)).as("n_dropped"),
        coalesce(sum(when(kept, col("n_toks"))), lit(0L))
          .as("n_toks_kept"),
        array_join(transform(
            array_sort(collect_list(
              when(kept, struct(col("chunk_idx"), col("chunk_text"))))),
            s => s.getField("chunk_text")), " ").as("clean_text"))
    (cleaned, keepers.select("seg_h"))
  }

  /** Containment decontamination — the directional complement of
    * [[ngramOverlap]]: containment(train, bench) = |shared shingles| /
    * |bench doc's shingles|. Jaccard misses an eval document EMBEDDED in
    * a much larger training document (the union denominator swamps the
    * intersection); containment flags it at ~1.0 regardless of the
    * training doc's size — the standard leakage measure for
    * partial-inclusion contamination.
    *
    * At scale: the benchmark side is tiny, so its shingle relation (and
    * its per-doc shingle counts) BROADCAST; the corpus side is one
    * explode pass into a map-side join, then ONE shuffle keyed
    * (doc_id, bench_id) with map-side partial counts.
    */
  def containmentPairs(train: DataFrame, bench: DataFrame, textCol: String,
                       idCol: String, n: Int,
                       minContainment: Double = 0.0): DataFrame = {
    val benchSh = bench.select(col(idCol).as("bench_id"),
      explode(Dedup.wordShingles(col(textCol), n)).as("g"))
    val benchCt = benchSh.groupBy("bench_id")
      .agg(count(lit(1)).as("bench_shingles"))
    // wordShingles is distinct-per-doc, so count(*) per (doc, bench)
    // pair counts distinct shared shingles without a second distinct
    val shared = train.select(col(idCol).as("doc_id"),
        explode(Dedup.wordShingles(col(textCol), n)).as("g"))
      .join(broadcast(benchSh), Seq("g"))
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
    shared.join(broadcast(benchCt), Seq("bench_id"))
      .withColumn("containment",
        round(col("n_shared").cast(DoubleType) / col("bench_shingles"), 6))
      .filter(col("containment") >= minContainment)
      .select(col("doc_id"), col("bench_id"), col("n_shared"),
        col("containment"))
  }

  /** Domain-mixture report: per-domain token shares and the α-smoothed
    * sampling weights a pretraining run draws with (w_i ∝ share_i^α,
    * normalized — α<1 upsamples small domains, the standard
    * multilingual/multi-domain temperature trick). The per-domain
    * aggregate is one partial-agg groupBy; the normalization joins
    * against a broadcast single-row total, so nothing in the plan grows
    * with corpus size — only with domain count.
    */
  def domainMixture(df: DataFrame, textCol: String, domainCol: String,
                    alpha: Double): DataFrame = {
    val perDomain = df.groupBy(col(domainCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount(col(textCol)).cast(LongType)).as("total_tokens"))
    val smoothed = perDomain.withColumn("smoothed",
      pow(col("total_tokens").cast(DoubleType), alpha))
    // the smoothed total is a sum of DOUBLES — accumulate in decimal
    // space so the result is order/partitioning-independent (the same
    // contract as GraftFunctions.exactSum; a raw double sum would
    // hash-diverge from the oracle on accumulation order)
    val totals = smoothed.agg(
      sum(col("total_tokens")).as("all_tokens"),
      sum(col("smoothed").cast(DecimalType(28, 12))).cast(DoubleType)
        .as("all_smoothed"))
    smoothed.crossJoin(broadcast(totals))
      .select(col(domainCol), col("n_docs"), col("total_tokens"),
        round(col("total_tokens").cast(DoubleType) / col("all_tokens"), 6)
          .as("token_share"),
        round(col("smoothed") / col("all_smoothed"), 6).as("mix_weight"))
  }

  /** Unigram language model from a (sampled) corpus: top-`vocab` tokens
    * by count with quantized log-probs relative to the TOTAL token count
    * (so OOV mass is implicit: p_oov = 1/total). Returned driver-side —
    * the LM is bounded by `vocab` (the same small-by-contract collect as
    * a broadcast dim); the build itself is one explode+groupBy shuffle
    * over the LM sample plus a TakeOrderedAndProject top-k, so at 100 TB
    * you build the LM from a deterministic sample, never the full
    * corpus.
    *
    * Log-probs are quantized to integer nano-nats via
    * floor(ln(p)*1e9 + 0.5) — floor(x+0.5), NOT round(): Scala/Java
    * round and DuckDB round disagree on negative half-way values
    * (half-up vs half-away-from-zero), floor(x+0.5) is identical
    * everywhere. */
  def unigramLm(lmCorpus: DataFrame, textCol: String,
                vocab: Int): (Map[String, Long], Long) = {
    val counts = lmCorpus
      .select(explode(tokens(lower(col(textCol)))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
    // ONE action: the top-k rows plus one row carrying the total, told
    // apart by `is_total`; both branches read the same token-count
    // exchange, which the plan reuses
    val rows = counts.orderBy(col("n").desc, col("tok")).limit(vocab)
      .select(lit(false).as("is_total"), col("tok"), col("n"))
      .unionAll(counts.agg(lit(true).as("is_total"),
        lit(null).cast(StringType).as("tok"),
        coalesce(sum(col("n")), lit(0L)).as("n")))
      .collect()
    val (totalRow, top) = rows.partition(_.getBoolean(0))
    val total = totalRow.head.getLong(2)
    require(total > 0, "unigramLm: LM corpus has no tokens")
    def pre(p: Double): Double = math.log(p) * 1e9 + 0.5
    // the oracle replays these ln's in another libm: fail loudly if any
    // parameter sits near a flooring boundary (VERDICT r11 / t21).
    // The quantized integers themselves come from [[ExactLn]] (r15):
    // this host's libm can no longer move a parameter, so the audited
    // margin only has to cover the REPLAYING engine's ln error
    QuantAudit.audit("unigram-lm",
      top.map(r => pre(r.getLong(2).toDouble / total)).toSeq :+ pre(1.0 / total))
    val lm = top.map(r =>
      r.getString(1) -> ExactLn.lnNanoFloor(r.getLong(2), total)).toMap
    (lm, ExactLn.lnNanoFloor(1L, total))
  }

  /** Per-document cross-entropy under a unigram LM (CCNet-style quality
    * signal: low = in-distribution, high = noise/foreign): mean negative
    * log-prob per token in nats, OOV at the 1/total floor. Scoring is
    * ONE compiled map-only pass per doc ([[graft.expressions
    * .LmScoreExpr]] with the LM as a literal) — no join, no shuffle, at
    * any corpus size. */
  def lmCrossEntropy(df: DataFrame, textCol: String, idCol: String,
                     lm: Map[String, Long], oovLogpU: Long): DataFrame =
    crossEntropyFrame(df, idCol,
      graft.expressions.TextExpressions.lmScore(col(textCol), lm, oovLogpU))

  /** Mean negative log-prob per token in nats, rounded to 6 places (0
    * for a doc without tokens), of an LM score struct (n_tokens,
    * sum_logp_u) — the cross-entropy every LM gate compares. */
  private def crossEntropy(score: Column): Column =
    when(score.getField("n_tokens") > 0L,
      round((-score.getField("sum_logp_u").cast(DoubleType) / 1e9) /
        score.getField("n_tokens").cast(DoubleType), 6)).otherwise(0.0)

  private def crossEntropyFrame(df: DataFrame, idCol: String,
                                score: Column): DataFrame =
    df.select(col(idCol).as("doc_id"), score.as("st"))
      .select(col("doc_id"), col("st.n_tokens").as("n_tokens"),
        crossEntropy(col("st")).as("cross_entropy"))

  /** The rows of `df` whose [[crossEntropy]] under the LM score struct
    * `score` is at most `maxCe` — a per-row filter that scores each row
    * ONCE. The struct is bound as a lambda variable: a plain filter on
    * its fields would get the scorer inlined once per field reference
    * (three scoring passes a row). */
  def crossEntropyAtMost(df: DataFrame, score: Column, maxCe: Double): DataFrame =
    df.filter(exists(array(score), st => crossEntropy(st) <= maxCe))

  /** MOORE-LEWIS CROSS-ENTROPY-DIFFERENCE data selection (Moore &
    * Lewis 2010; the scoring CCNet ranks documents with): every doc is
    * scored under TWO unigram LMs — an IN-DOMAIN model and a GENERAL
    * model — and ranked by ce_in − ce_gen: strongly negative means
    * "looks like the target domain, unlike the general corpus" (head),
    * strongly positive the reverse (tail). Both LM fits are the
    * bounded-literal contract ([[unigramLm]] — QuantAudit-guarded
    * quantized-ln integers), and the difference is computed from the
    * INTEGER nano-nat sums first — (sum_gen − sum_in)/1e9/n, one
    * division, one round — so no new cross-engine float hazard beyond
    * the audited fits. Bucket verdicts compare the ROUNDED diff, so a
    * boundary doc cannot flip across engines.
    *
    * Scoring is ONE map-only projection with two compiled
    * [[graft.expressions.LmScoreExpr]] passes (each tokenizes once; a
    * corpus-scale deployment would share the token stream, the
    * t19-measured ~40% single-pass win — accepted here to reuse the
    * verified kernel unchanged). No join, no shuffle, at any corpus
    * size. */
  def ceDiffSelect(df: DataFrame, textCol: String, idCol: String,
                   lmIn: Map[String, Long], oovIn: Long,
                   lmGen: Map[String, Long], oovGen: Long,
                   headLt: Double, tailGt: Double): DataFrame = {
    require(headLt <= tailGt, s"headLt=$headLt > tailGt=$tailGt")
    val si = graft.expressions.TextExpressions.lmScore(col(textCol), lmIn, oovIn)
    val sg = graft.expressions.TextExpressions.lmScore(col(textCol), lmGen, oovGen)
    def ce(st: Column, n: Column): Column =
      when(n > 0L, round((-st.cast(DoubleType) / 1e9) / n.cast(DoubleType), 6))
        .otherwise(0.0)
    df.select(col(idCol).as("doc_id"), si.as("si"), sg.as("sg"))
      .select(col("doc_id"),
        col("si.n_tokens").as("n_tokens"),
        ce(col("si.sum_logp_u"), col("si.n_tokens")).as("ce_in"),
        ce(col("sg.sum_logp_u"), col("sg.n_tokens")).as("ce_gen"),
        when(col("si.n_tokens") > 0L,
          round((col("sg.sum_logp_u") - col("si.sum_logp_u"))
            .cast(DoubleType) / 1e9 /
            col("si.n_tokens").cast(DoubleType), 6)).otherwise(0.0)
          .as("ce_diff"))
      .withColumn("bucket",
        when(col("ce_diff") < headLt, "head")
          .when(col("ce_diff") > tailGt, "tail")
          .otherwise("middle"))
  }

  /** Gopher-rule document filter (Rae et al. 2021, §A1.1.2): the
    * published rule battery with its published thresholds — word count
    * in [50, 100000], mean word length in [3, 10], symbol-to-word ratio
    * ('#' + '...') <= 0.1, <= 90% of lines bullet-started, <= 30% of
    * lines ellipsis-ended, >= 80% of words containing an alphabetic
    * character, >= 2 stopword hits. Emits the measured fields, each
    * rule's verdict, and the conjunction (`gopher_pass`).
    *
    * All counting happens in ONE compiled pass per document
    * ([[graft.expressions.GopherStatsExpr]] + [[graft.expressions
    * .MarkerCountExpr]]); flags are derived from the ROUNDED ratios so
    * a boundary document cannot flip its verdict across engines.
    * Map-only at any corpus size.
    */
  def gopherProfile(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val st = graft.expressions.TextExpressions.gopherStats(col(textCol))
    val stops = graft.expressions.TextExpressions.markerCount(col(textCol),
      gopherStopwords)
    val n = col("st.n_tokens").cast(DoubleType)
    df.select(col(idCol).as("doc_id"), st.as("st"), stops.as("n_stop_hits"))
      .select(
        col("doc_id"),
        col("st.n_tokens").as("n_words"),
        when(col("st.n_tokens") > 0L,
          round(col("st.sum_tok_len").cast(DoubleType) / n, 6)).otherwise(0.0)
          .as("mean_word_len"),
        when(col("st.n_tokens") > 0L,
          round(col("st.n_symbol_hits").cast(DoubleType) / n, 6)).otherwise(0.0)
          .as("symbol_ratio"),
        when(col("st.n_tokens") > 0L,
          round(col("st.n_alpha_toks").cast(DoubleType) / n, 6)).otherwise(0.0)
          .as("alpha_frac"),
        round(col("st.n_bullet_lines").cast(DoubleType) /
          col("st.n_lines").cast(DoubleType), 6).as("bullet_frac"),
        round(col("st.n_ellipsis_lines").cast(DoubleType) /
          col("st.n_lines").cast(DoubleType), 6).as("ellipsis_frac"),
        col("n_stop_hits"))
      .withColumn("pass_word_count",
        col("n_words") >= 50L && col("n_words") <= 100000L)
      .withColumn("pass_mean_len",
        col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
      .withColumn("pass_symbol", col("symbol_ratio") <= 0.1)
      .withColumn("pass_bullet", col("bullet_frac") <= 0.9)
      .withColumn("pass_ellipsis", col("ellipsis_frac") <= 0.3)
      .withColumn("pass_alpha", col("alpha_frac") >= 0.8)
      .withColumn("pass_stop", col("n_stop_hits") >= 2L)
      .withColumn("gopher_pass",
        col("pass_word_count") && col("pass_mean_len") && col("pass_symbol") &&
          col("pass_bullet") && col("pass_ellipsis") && col("pass_alpha") &&
          col("pass_stop"))
  }

  /** The Gopher rule names in [[gopherProfile]] flag-column order —
    * shared by [[filterAblation]] and its oracle. */
  val gopherRuleNames: Seq[(String, String)] = Seq(
    "word_count" -> "pass_word_count", "mean_len" -> "pass_mean_len",
    "symbol" -> "pass_symbol", "bullet" -> "pass_bullet",
    "ellipsis" -> "pass_ellipsis", "alpha" -> "pass_alpha",
    "stop" -> "pass_stop")

  /** FILTER ABLATION REPORT over a [[gopherProfile]] output — the
    * question a pipeline owner actually asks of a rule battery: what
    * does each rule catch, and what does it catch ALONE (its marginal
    * yield — the documents that would re-enter the kept set if only
    * that rule were dropped). A rule with n_fail >> 0 but n_only == 0
    * is fully shadowed by the others and can be removed without
    * changing the corpus.
    *
    * Output: (rule, n_fail, n_only), one row per rule.
    *
    * At scale: one map-only 7-way struct explode of boolean-and-count
    * rows (no text travels) into a 7-group aggregate — the exchange
    * carries 7 skinny rows per document and the result is bounded by
    * the rule count. */
  def filterAblation(profile: DataFrame): DataFrame = {
    val nFails = gopherRuleNames
      .map { case (_, c) => when(!col(c), 1).otherwise(0) }.reduce(_ + _)
    profile.withColumn("nf", nFails)
      .select(explode(array(gopherRuleNames.map { case (r, c) =>
        struct(lit(r).as("rule"), (!col(c)).as("fail"), col("nf").as("nf"))
      }: _*)).as("e"))
      .groupBy(col("e.rule").as("rule"))
      .agg(sum(when(col("e.fail"), 1L).otherwise(0L)).as("n_fail"),
        sum(when(col("e.fail") && col("e.nf") === 1, 1L).otherwise(0L))
          .as("n_only"))
  }

  /** Gopher's stopword list (the rule asks for >= 2 hits). */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Bigram LM with stupid backoff, built from a (sampled) corpus:
    * unigram part identical to [[unigramLm]] (top-`vocab` tokens,
    * quantized nano-nat log-probs, OOV at the 1/total floor); bigram
    * part = the top-`bigramVocab` adjacent-pair counts with quantized
    * conditional log-probs ln(c(w1 w2) / c(w1)). Score of a non-tabled
    * bigram backs off to quant(ln 0.4) + unigram(w2) — Brants et al.
    * 2007's stupid backoff, the standard web-scale choice (no
    * discounting state to shuffle). All model pieces are driver-built
    * literals bounded by the vocab contracts; the build is two
    * explode+groupBy shuffles over the LM SAMPLE plus two
    * TakeOrderedAndProject top-k collects — never over the full corpus.
    */
  def bigramLm(lmCorpus: DataFrame, textCol: String,
               vocab: Int, bigramVocab: Int)
      : (Map[String, Long], Map[String, Long], Long, Long) = {
    // persist: three driver actions consume this relation (total agg,
    // top-k collect, w1-count collect) — unpersisted, each would re-run
    // the tokenize+shuffle over the LM sample
    val uniCounts = lmCorpus
      .select(explode(tokens(lower(col(textCol)))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .persist()
    try {
      val total = uniCounts.agg(coalesce(sum(col("n")), lit(0L))).head.getLong(0)
      require(total > 0, "bigramLm: LM corpus has no tokens")
      // audit telemetry; quantization is [[ExactLn]] (r15) — see
      // [[unigramLm]]
      def pre(p: Double): Double = math.log(p) * 1e9 + 0.5
      val uniTop = uniCounts.orderBy(col("n").desc, col("tok")).limit(vocab).collect()
      val uni = uniTop
        .map(r => r.getString(0) -> ExactLn.lnNanoFloor(r.getLong(1), total)).toMap
      val bgTop = lmCorpus
        .select(explode(
          graft.expressions.TextExpressions.wordSpans(col(textCol), 2)).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bg")).limit(bigramVocab).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      val w1s = bgTop.map(_._1.split(' ')(0)).distinct.toSeq
      val w1Counts = uniCounts.filter(col("tok").isInCollection(w1s)).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // every replayed-ln parameter (uni + bi + OOV floor + backoff)
      // must clear the flooring-boundary margin (VERDICT r11 / t21)
      QuantAudit.audit("bigram-lm",
        uniTop.map(r => pre(r.getLong(1).toDouble / total)).toSeq ++
          bgTop.map { case (bg, n) =>
            pre(n.toDouble / w1Counts(bg.split(' ')(0))) } :+
          pre(1.0 / total) :+ pre(0.4))
      val bi = bgTop.map { case (bg, n) =>
        bg -> ExactLn.lnNanoFloor(n, w1Counts(bg.split(' ')(0)))
      }.toMap
      (bi, uni, ExactLn.lnNanoFloor(1L, total), ExactLn.lnNanoFloor(2L, 5L))
    } finally uniCounts.unpersist(blocking = false)
  }

  /** Per-document cross-entropy under the bigram-backoff LM — one
    * compiled map-only pass per doc ([[graft.expressions
    * .BigramLmScoreExpr]] with the model as literals), same contract as
    * [[lmCrossEntropy]]. */
  def bigramCrossEntropy(df: DataFrame, textCol: String, idCol: String,
                         bigram: Map[String, Long], unigram: Map[String, Long],
                         oovLogpU: Long, backoffU: Long): DataFrame =
    crossEntropyFrame(df, idCol, graft.expressions.TextExpressions.bigramLmScore(
      col(textCol), bigram, unigram, oovLogpU, backoffU))

  /** Deterministic stratified sample: at most `perStratum` documents
    * per `byCol` stratum, selected by md5-hash order with id tiebreak —
    * the step that APPLIES a mixture plan (t10 computes the weights;
    * this takes the per-domain budgets). Hash order makes the sample a
    * fixed, auditable subset: re-running on any engine, partitioning,
    * or day picks the same documents (the q42/t12 hash contract), and
    * growing a stratum only ever ADDS documents competing below the
    * cut, never reshuffles the kept set's order.
    *
    * Scale shape: ONE shuffle keyed by the stratum column; per-stratum
    * top-N via rank over the hash order — a WindowGroupLimit plan, so
    * each partition keeps only its running top-N (no stratum ever
    * materializes fully in memory). Skewed strata are bounded by
    * perStratum on the output side; the input side is the same keyed
    * exchange any per-domain aggregate pays.
    */
  def stratifiedSample(df: DataFrame, idCol: String, byCol: String,
                       perStratum: Int): DataFrame = {
    require(perStratum > 0, s"perStratum must be positive, got $perStratum")
    val h = graft.functions.GraftFunctions.md5Long(
      col(idCol).cast(org.apache.spark.sql.types.StringType))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(byCol)).orderBy(col("h"), col(idCol))
    df.withColumn("h", h)
      .withColumn("sample_rank", row_number().over(w).cast(LongType))
      .filter(col("sample_rank") <= perStratum.toLong)
      .drop("h")
  }

  /** Per-stratum BUDGETED variant of [[stratifiedSample]] — the t10→t15
    * composition: `budgets` is a small (byCol, budget) relation (e.g.
    * α-tempered mixture weights times an export budget), and each
    * stratum keeps its first `budget` docs in the same deterministic
    * md5-rank order. Strata absent from `budgets` are DROPPED (budget
    * 0 — an excluded source). Same plan shape as the fixed-N variant
    * plus one join against the broadcast-sized budget relation; the
    * rank filter cannot use WindowGroupLimit here (the limit is no
    * longer a literal), so each stratum pays its window sort — still
    * one exchange, keyed by stratum. */
  def stratifiedSampleWeighted(df: DataFrame, idCol: String, byCol: String,
                               budgets: DataFrame): DataFrame = {
    val h = graft.functions.GraftFunctions.md5Long(
      col(idCol).cast(org.apache.spark.sql.types.StringType))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(byCol)).orderBy(col("h"), col(idCol))
    df.withColumn("h", h)
      .withColumn("sample_rank", row_number().over(w).cast(LongType))
      .join(budgets, Seq(byCol))
      .filter(col("sample_rank") <= col("budget"))
      .drop("h", "budget")
  }

  /** Weighted sampling WITHOUT replacement — Efraimidis–Spirakis
    * (IPL 2006) A-ES keys, derandomized: each row gets
    * key = ln(u)/w with u ∈ (0,1) derived from the row's md5 (no RNG
    * state — reruns and engines agree), and the sample is the top-k
    * rows by key. E-S proves this equals sequential weighted draws
    * without replacement: P(row first) = w_i / Σw. The workhorse of
    * quality-weighted corpus subsampling (soft-dedup weights, LM
    * scores, host priors all plug in as `weightCol`).
    *
    * Determinism: u = (md5Long(id)%1000001 + 1000001) ... folded into
    * [1, 1000001] / 1000002.0 so u is never 0 or 1; the key is
    * quantized ONCE at the end (floor(x·1e9+0.5), the t11 contract) so
    * ties and order are integer-exact across engines; id tie-break.
    *
    * Scale shape: the key is a map-only projection; top-k is a global
    * TakeOrdered (per-partition partial top-k, then a k-sized driver
    * merge) — no full sort, no shuffle of the corpus. Rows with
    * non-positive weight never sample (ln(u)/w flips sign; they are
    * filtered by contract).
    *
    * Output: (id, weight, key_nano, sample_rank 1..k). */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val h = graft.functions.GraftFunctions.md5Long(
      col(idCol).cast(org.apache.spark.sql.types.StringType))
    // pmod not %: Scala % keeps the dividend's sign and half the md5
    // space is negative
    val u = (pmod(h, lit(1000001L)) + 1L).cast(DoubleType) / 1000002.0
    val keyed = df
      .filter(col(weightCol).cast(DoubleType) > 0.0)
      .select(col(idCol).as("id"),
        col(weightCol).cast(DoubleType).as("weight"),
        floor(log(u) / col(weightCol).cast(DoubleType) * 1e9 + 0.5)
          .cast(LongType).as("key_nano"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("key_nano").desc, col("id"))
    // global window over the TOP-K ONLY: orderBy+limit prunes first
    // (TakeOrdered), then ranks k rows — the single-partition window
    // never sees more than k rows
    keyed.orderBy(col("key_nano").desc, col("id")).limit(k)
      .withColumn("sample_rank", row_number().over(w).cast(LongType))
  }

  /** PII profile + redaction: per-pattern match counts (on the original
    * text) and the text with emails/phones/IPv4s replaced by type tags —
    * the scrub pass a training corpus runs before anything else ships.
    * All regex built-ins, so the whole operator is one codegen'd
    * map-only projection: zero shuffles at any corpus size.
    */
  def piiProfile(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(
      col(idCol).as("doc_id"),
      patternCount(col(textCol), emailRe).as("n_emails"),
      patternCount(col(textCol), phoneRe).as("n_phones"),
      patternCount(col(textCol), ipv4Re).as("n_ips"),
      redactPii(col(textCol)).as("redacted"))

  /** Gopher-style repetition-quality signals per document:
    * duplicate-token fraction (1 - distinct/total), top-unigram
    * fraction, top-bigram fraction (of bigram slots). High values mark
    * boilerplate/spam for the curation filter. One compiled pass per
    * doc ([[graft.expressions.RepetitionStatsExpr]]) — per-doc counting
    * needs no cross-document data, so the operator is map-only; the
    * exploded-token groupBy alternative would shuffle the entire token
    * stream for a per-key answer that fits in one row.
    */
  def repetitionProfile(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val st = graft.expressions.TextExpressions.repetitionStats(col(textCol))
    // two-step select: the struct is one projected column; field
    // extraction below stays CSE-deduped even if Catalyst collapses the
    // projections (fallback-expression CSE measured in PLANS.md r3)
    df.select(col(idCol).as("doc_id"), st.as("st"))
      .select(
        col("doc_id"),
        col("st.n_tokens").as("n_tokens"),
        when(col("st.n_tokens") > 0L,
          lit(1.0) - col("st.n_distinct").cast(DoubleType) /
            col("st.n_tokens").cast(DoubleType)).otherwise(0.0)
          .as("dup_token_frac"),
        when(col("st.n_tokens") > 0L,
          col("st.top_token").cast(DoubleType) /
            col("st.n_tokens").cast(DoubleType)).otherwise(0.0)
          .as("top_token_frac"),
        when(col("st.n_tokens") > 1L,
          col("st.top_bigram").cast(DoubleType) /
            (col("st.n_tokens") - 1L).cast(DoubleType)).otherwise(0.0)
          .as("top_bigram_frac"))
  }

  /** Decontamination — benchmark n-gram overlap: flags training docs
    * sharing any word `n`-gram with the benchmark/eval set, with the
    * count of distinct shared shingles (the eval-leakage report every
    * pretraining corpus needs).
    *
    * At scale: the benchmark side is eval suites — tiny vs the corpus —
    * so its distinct-shingle relation is BROADCAST; the training side
    * stays a map-side hash-join over one explode pass, no corpus
    * shuffle before the per-doc count.
    */
  def ngramOverlap(train: DataFrame, bench: DataFrame, textCol: String,
                   idCol: String, n: Int): DataFrame = {
    val benchSh = bench
      .select(explode(Dedup.wordShingles(col(textCol), n)).as("g"))
      .distinct()
    // wordShingles is distinct-per-doc, so count(*) counts distinct
    // shared shingles without a second distinct pass
    train.select(col(idCol).as("doc_id"),
        explode(Dedup.wordShingles(col(textCol), n)).as("g"))
      .join(broadcast(benchSh), Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_shingles"))
  }

  /** [[ngramOverlap]] for a benchmark side too big to broadcast: hash
    * the shingles to 60-bit keys and run a plain SHUFFLE equi-join on
    * the hash — both sides exchange ~|shingles| skinny (key, id) rows
    * instead of shipping the benchmark to every executor. Results are
    * identical to the broadcast form (spec-pinned; md5 collisions
    * across DISTINCT shingle strings are the standard 2^-60 contract
    * the whole engine rides). This is the shape for decontaminating
    * against a 100-GB eval corpus or AGAINST THE TRAINING SET ITSELF
    * (train-train leakage reports), where no side is dimension-sized. */
  def ngramOverlapShuffle(train: DataFrame, bench: DataFrame,
                          textCol: String, idCol: String, n: Int): DataFrame = {
    val benchSh = bench
      .select(explode(Dedup.wordShingles(col(textCol), n)).as("g"))
      .distinct()
      .select(md5Long(col("g")).as("gh"))
    train.select(col(idCol).as("doc_id"),
        explode(Dedup.wordShingles(col(textCol), n)).as("g"))
      .select(col("doc_id"), md5Long(col("g")).as("gh"))
      .join(benchSh, Seq("gh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_shingles"))
  }

  /** Cross-document duplicate-SPAN removal (the C4 / RefinedWeb rewrite
    * pass): any `k`-token span occurring in ≥2 distinct documents is
    * kept only in the lowest-doc_id document; every other document has
    * the covered token positions cut out, and the text is rebuilt from
    * the surviving tokens. Doc-level dedup (d01–d08) drops whole
    * near-dup documents; THIS operator removes boilerplate stretches
    * (headers, licenses, templated paragraphs) shared across otherwise
    * distinct documents — the rewrite step between the two.
    *
    * Semantics: spans are hashed on LOWERCASED whitespace tokens
    * ([[graft.functions.GraftFunctions.md5Long]] for cross-engine
    * determinism); rebuild uses the ORIGINAL tokens; removal is
    * keep-first (min doc_id), position-union over overlapping duplicated
    * spans; a document's internal repeats are NOT removed (cross-doc
    * contract — per-doc repetition is t09's signal). Only token-bearing
    * documents appear in the output.
    *
    * Scale shape: span-occurrence generation is ONE compiled call per
    * document ([[graft.expressions.SpanHashesExpr]]) + posexplode —
    * map-only, no token-level window shuffle; the span-stats exchange
    * is keyed by the 60-bit span hash and carries (hash, doc, pos)
    * triples — linear in corpus tokens; the duplicated-span relation is
    * bounded by the corpus's DUPLICATED text volume (the thing being
    * removed), not its size, as is the per-doc removal-position set;
    * the rebuild is one compiled pass per AFFECTED doc against its
    * removal set ([[graft.expressions.DropTokensExpr]]) after a join
    * whose right side holds only affected docs (broadcastable whenever
    * duplicated text is sparse — AQE decides). No stage ever holds a
    * whole document's token rows in one group.
    */
  def spanDedup(df: DataFrame, textCol: String, idCol: String,
                k: Int = 10): DataFrame = {
    import graft.expressions.TextExpressions.{dropTokens, spanHashes}
    val base = df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    // localCheckpoint (lazy): the span-occurrence relation feeds TWO
    // plan subtrees (the dup aggregation and the removal join probe)
    // whose exchanges are not identical, so ReusedExchange cannot dedup
    // them — unmaterialized, the corpus-wide tokenize+md5 pass (the
    // dominant map-only stage) would run twice. Unlike persist(), the
    // checkpointed blocks are NOT pinned in the CacheManager for the
    // session lifetime: once the returned plan is unreferenced the
    // ContextCleaner frees them (ADVICE r6 — repeated spanDedup calls
    // no longer accumulate cached partitions until LRU pressure). At
    // warehouse scale this cut-point is a materialized table
    // (PLANS.md "Known divergences").
    val spanOcc = base.select(col("doc_id"),
      posexplode(spanHashes(col("text"), k)).as(Seq("pos", "h")))
      .localCheckpoint(false)
    // cross-doc duplicated spans: min != max over doc_id is the
    // distinct-count>=2 test without a count-distinct expand
    val dup = spanOcc.groupBy("h")
      .agg(min("doc_id").as("keeper"), max("doc_id").as("mx"))
      .filter(col("keeper") =!= col("mx"))
      .select("h", "keeper")
    // per-affected-doc removal-position sets (collect_set dedups the
    // overlapping-span positions; order irrelevant — DropTokensExpr
    // flags a boolean array)
    val removed = spanOcc.join(dup, "h")
      .filter(col("doc_id") =!= col("keeper"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("rpos"))
      .groupBy("doc_id")
      .agg(collect_set(col("rpos")).as("rpos"))
    rebuildDocs(base, removed)
  }

  /** Shared rebuild tail of the span-dedup paths: cut each doc's
    * removal positions out and re-emit (doc_id, n_tokens, n_kept,
    * text_dedup); token-less docs drop. */
  private def rebuildDocs(base: DataFrame, removed: DataFrame): DataFrame = {
    import graft.expressions.TextExpressions.dropTokens
    base.join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        dropTokens(col("text"), col("rpos")).as("st"))
      .filter(col("st").isNotNull) // token-bearing docs only
      .select(col("doc_id"), col("st.n_tokens").as("n_tokens"),
        col("st.n_kept").as("n_kept"), col("st.text_dedup").as("text_dedup"))
  }

  // -------------------------------------------------------------------
  // Incremental span dedup (the daily-crawl shape — VERDICT r6 next-#5)
  // -------------------------------------------------------------------

  /** The materialized cut-point for DELTA span dedup: one row per
    * distinct span hash with its keeper (min doc_id). Includes
    * single-occurrence spans — a future appended doc matching a span
    * seen once must still lose to it. This is the warehouse table a
    * daily-crawl pipeline maintains instead of re-deriving the span
    * relation per run; [[mergeSpanKeepers]] folds a new batch in.
    * Declared by SURVEY "Beyond `queries` (round 7)", incremental span dedup. */
  def spanKeepers(df: DataFrame, textCol: String, idCol: String,
                  k: Int = 10): DataFrame = {
    import graft.expressions.TextExpressions.spanHashes
    df.select(col(idCol).as("doc_id"),
        explode(spanHashes(col(textCol), k)).as("h"))
      .groupBy("h").agg(min("doc_id").as("keeper"))
  }

  /** Fold an appended batch into the keeper table: min of the old
    * keeper and the batch's min per span hash. One keyed shuffle
    * bounded by |old distinct spans| + |batch spans|.
    * Declared by SURVEY "Beyond `queries` (round 7)", incremental span dedup. */
  def mergeSpanKeepers(keepers: DataFrame, newDocs: DataFrame,
                       textCol: String, idCol: String,
                       k: Int = 10): DataFrame =
    keepers.unionByName(spanKeepers(newDocs, textCol, idCol, k))
      .groupBy("h").agg(min("keeper").as("keeper"))

  /** DELTA span dedup: rewrite ONLY an appended batch against the
    * materialized [[spanKeepers]] table — the realistic daily-crawl
    * shape (full [[spanDedup]] re-tokenizes the entire corpus; this
    * touches the batch plus one keyed join into the keeper table).
    *
    * APPEND CONTRACT (caller-owned, spec-pinned): batch doc ids must
    * exceed every id already in the keeper table. Under that contract
    * existing outputs are STABLE — a new doc can never out-rank an old
    * keeper (keeper = min id), so a span newly shared with an old doc
    * removes text from the NEW doc only, and
    *   full_rebuild(old ∪ batch) == spanDedup(old) ∪ spanDedupDelta(batch)
    * (SpanDedupDeltaSpec proves it). An occurrence of span h in batch
    * doc n is removed iff keeper(h) < n over old ∪ batch — identical to
    * the full rebuild's "not the keeper of a cross-doc span" test: if h
    * is batch-only and n is its min, n keeps it; internal repeats are
    * kept, as in the full pass.
    *
    * Scale shape: span generation is one compiled call per BATCH doc;
    * the only exchange keyed by span hash carries the batch's spans
    * plus the matching keeper rows — independent of old-corpus size
    * given a keeper table partitioned/bucketed by h.
    * Declared by SURVEY "Beyond `queries` (round 7)", incremental span dedup. */
  def spanDedupDelta(newDocs: DataFrame, textCol: String, idCol: String,
                     keepers: DataFrame, k: Int = 10): DataFrame = {
    import graft.expressions.TextExpressions.spanHashes
    val base = newDocs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    // same two-subtree reuse as spanDedup (dup test + removal probe)
    val newOcc = base.select(col("doc_id"),
      posexplode(spanHashes(col("text"), k)).as(Seq("pos", "h")))
      .localCheckpoint(false)
    val combinedMin = newOcc.groupBy("h").agg(min("doc_id").as("nm"))
      .join(keepers, Seq("h"), "left")
      .select(col("h"),
        least(coalesce(col("keeper"), col("nm")), col("nm")).as("keeper"))
    val removed = newOcc.join(combinedMin, "h")
      .filter(col("doc_id") > col("keeper"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("rpos"))
      .groupBy("doc_id")
      .agg(collect_set(col("rpos")).as("rpos"))
    rebuildDocs(base, removed)
  }

  // -------------------------------------------------------------------
  // Exact-substring dedup (Lee et al. 2021's unaligned-run family —
  // VERDICT r8 next-#1)
  // -------------------------------------------------------------------

  /** Exact-substring dedup: remove cross-document duplicated token RUNS
    * of at least `minRun` tokens at ARBITRARY offsets — the
    * "Deduplicating Training Data Makes Language Models Better" (Lee et
    * al. 2021) ExactSubstr family, whose reference implementation is a
    * corpus-wide suffix array (inherently single-machine). The
    * distributed re-expression is content-defined segmentation
    * ([[graft.expressions.AnchorSegmentsExpr]]): rolling-hash anchors
    * cut each document into ~`stride`-token segments whose boundaries
    * depend only on local token content, so a run shared by two
    * documents is segmented IDENTICALLY inside both regardless of its
    * offset in either — whole-segment hash equality then finds the
    * run's interior without any token-level alignment search.
    *
    * Pipeline: segment (one compiled call per doc, map-only) → cross-doc
    * duplicated segments (min != max over doc_id per segment hash,
    * keep-first keeper = min doc_id, as [[spanDedup]]) → chain a doc's
    * CONSECUTIVE removable segments into islands (gaps-and-islands on
    * segment index) → islands totalling >= `minRun` tokens are removed;
    * shorter islands survive (the Lee-style minimum-match-length that
    * keeps common short phrases from shredding documents) → rebuild
    * from surviving positions ([[graft.expressions.DropTokensExpr]],
    * original-case tokens).
    *
    * COVERAGE CONTRACT (the honest delta vs a suffix array): a
    * duplicated run is removed from its anchor-aligned INTERIOR — the
    * segments whose content lies fully inside the run. The run's head
    * (before its first interior anchor) and tail (the segment crossing
    * the run's end) hash differently in each document and survive;
    * expected fringe ≈ 2·stride tokens per run. Suffix-array exactness
    * trims to the exact run boundaries; the fixed-width [[spanDedup]]
    * (k=10, stride-1) trims exactly but carries one exchange row PER
    * TOKEN. This operator's exchanges carry ~1/stride of that (segment
    * granularity), the 100 TB trade documented on the reference's own
    * corpus shapes. Intra-document repeats are NOT removed (cross-doc
    * contract, per-doc repetition is t09's signal).
    *
    * Scale shape: segmentation is map-only; the duplicated-segment test
    * is ONE exchange keyed by the 60-bit segment hash carrying
    * (h, doc, idx, pos, len) at ~tokens/stride rows; island chaining is
    * two window passes over REMOVABLE segments only (bounded by
    * duplicated volume) partitioned by doc_id; the rebuild join's right
    * side holds only affected docs (broadcastable when duplication is
    * sparse — AQE decides). No stage holds a whole document's token
    * rows in one group.
    */
  def exactSubstrDedup(df: DataFrame, textCol: String, idCol: String,
                       w: Int = 4, stride: Int = 8,
                       minRun: Int = 30): DataFrame =
    exactSubstrRemove(df, textCol, idCol, w, stride, minRun, keepers = None)

  /** The materialized cut-point for DELTA exact-substring dedup: one
    * row per distinct segment hash with its keeper (min doc_id) —
    * [[spanKeepers]]' contract at segment granularity (~1/stride its
    * row count). Single-occurrence segments included: a future doc
    * matching a segment seen once must lose to it.
    * Declared by SURVEY "Beyond `queries` (round 9)", DELTA exact-substring
    * dedup. */
  def substrKeepers(df: DataFrame, textCol: String, idCol: String,
                    w: Int = 4, stride: Int = 8): DataFrame = {
    import graft.expressions.TextExpressions.anchorSegments
    df.select(col(idCol).as("doc_id"),
        explode(anchorSegments(col(textCol), w, stride)).as("seg"))
      .select(col("doc_id"), col("seg.h").as("h"))
      .groupBy("h").agg(min("doc_id").as("keeper"))
  }

  /** Fold an appended batch into the segment-keeper table: min of old
    * keeper and batch min per hash — one keyed shuffle bounded by
    * |old distinct segments| + |batch segments|.
    * Declared by SURVEY "Beyond `queries` (round 9)", DELTA exact-substring
    * dedup. */
  def mergeSubstrKeepers(keepers: DataFrame, newDocs: DataFrame,
                         textCol: String, idCol: String,
                         w: Int = 4, stride: Int = 8): DataFrame =
    keepers.unionByName(substrKeepers(newDocs, textCol, idCol, w, stride))
      .groupBy("h").agg(min("keeper").as("keeper"))

  /** DELTA exact-substring dedup: rewrite ONLY an appended batch
    * against the materialized [[substrKeepers]] table —
    * [[spanDedupDelta]]'s daily-crawl contract at segment granularity.
    * Same APPEND CONTRACT (batch ids exceed every keeper id, so old
    * outputs are stable and
    *   full(old ∪ batch) == full(old) ∪ delta(batch)
    * — ExactSubstrSpec proves it): a batch doc's segment is removable
    * iff its combined keeper (min over old table ∪ batch) is a smaller
    * id; island chaining and the minRun threshold then run on the
    * batch's own segment sequence exactly as in the full pass. Scale
    * shape: segmentation touches the BATCH only; the one keyed
    * exchange carries batch segments + matching keeper rows —
    * independent of old-corpus size given a keeper table bucketed by
    * h.
    * Declared by SURVEY "Beyond `queries` (round 9)", DELTA exact-substring
    * dedup. */
  def exactSubstrDedupDelta(newDocs: DataFrame, textCol: String,
                            idCol: String, keepers: DataFrame,
                            w: Int = 4, stride: Int = 8,
                            minRun: Int = 30): DataFrame =
    exactSubstrRemove(newDocs, textCol, idCol, w, stride, minRun,
      keepers = Some(keepers))

  private def exactSubstrRemove(df: DataFrame, textCol: String,
                                idCol: String, w: Int, stride: Int,
                                minRun: Int,
                                keepers: Option[DataFrame]): DataFrame = {
    import graft.expressions.TextExpressions.anchorSegments
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    // one subtree feeds both the dup aggregation and the removal probe —
    // same lazy cut-point rationale as spanDedup
    val segs = base.select(col("doc_id"),
        posexplode(anchorSegments(col("text"), w, stride)).as(Seq("si", "seg")))
      .select(col("doc_id"), col("si"), col("seg.pos").as("pos"),
        col("seg.len").as("len"), col("seg.h").as("h"))
      .localCheckpoint(false)
    // keeper relation per segment hash; a segment occurrence is
    // removable iff a smaller doc id owns its hash. Full mode derives
    // keepers from the corpus itself (min != max prunes the probe side
    // to genuinely duplicated hashes); delta mode folds the batch's
    // mins into the materialized keeper table (spanDedupDelta's test:
    // doc_id > combined keeper covers both old-vs-batch and
    // batch-internal duplication)
    val dup = keepers match {
      case None =>
        segs.groupBy("h")
          .agg(min("doc_id").as("keeper"), max("doc_id").as("mx"))
          .filter(col("keeper") =!= col("mx"))
          .select("h", "keeper")
      case Some(k) =>
        segs.groupBy("h").agg(min("doc_id").as("nm"))
          .join(k, Seq("h"), "left")
          .select(col("h"),
            least(coalesce(col("keeper"), col("nm")), col("nm")).as("keeper"))
    }
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("si"))
    val removable = segs.join(dup, "h")
      .filter(col("doc_id") > col("keeper"))
      .withColumn("isl", col("si") - row_number().over(byDoc))
    val islandLen = Window.partitionBy(col("doc_id"), col("isl"))
    val removed = removable
      .withColumn("run_len", sum(col("len")).over(islandLen))
      .filter(col("run_len") >= minRun)
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + col("len") - lit(1)))
          .as("rpos"))
      .groupBy("doc_id")
      .agg(collect_set(col("rpos")).as("rpos"))
    rebuildDocs(base, removed)
  }

  // -------------------------------------------------------------------
  // BM25 ranking
  // -------------------------------------------------------------------

  /** BM25 document ranking (Robertson-Spärck Jones / Okapi) against a
    * deterministic query-term set: the mid-frequency vocabulary slice
    * [termRankStart, termRankStart+nTerms) under the (count DESC, token)
    * total order — the retrieval scorer a curation pipeline uses for
    * quality-weighted selection.
    *
    * Determinism contract (the t11 pattern): idf = ln(1+(N−df+0.5)/(df+0.5)) (the Lucene/trec_eval positive form)
    * is quantized to INT64 nano-units (floor(·1e9+0.5)) the moment it is
    * computed; each per-(doc,term) score multiplies that integer by the
    * saturation fraction (tf·(k1+1))/(tf + k1·(1−b+b·dl/avgdl)) — pure
    * double arithmetic from integers with ONE written parenthesization,
    * reproduced verbatim in the oracle — and is floored back to int64;
    * per-doc sums are then integer sums, order-free. avgdl is the exact
    * integer-total / integer-count division both engines perform
    * identically.
    *
    * Scale shape: one token-keyed exchange for the vocabulary (shared
    * shape with t05), tf confined to the nTerms query terms (the
    * explode is filtered by a broadcast 5-row term list before any
    * shuffle), doc lengths map-only, stats a 1-row broadcast; the
    * per-doc sum is the only doc-keyed exchange. k1 = 1.2, b = 0.75.
    *
    * Output: top `k` of (doc_id, score) by (score DESC, doc_id). */
  def bm25TopK(df: DataFrame, textCol: String, idCol: String,
               termRankStart: Int, nTerms: Int, k: Int): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      tokens(lower(col(textCol))).as("toks"))
    val dl = toks.select(col("doc_id"), size(col("toks")).as("dl"))
    val exploded = toks.select(col("doc_id"), explode(col("toks")).as("tok"))
    val vocab = exploded.groupBy("tok").agg(count(lit(1)).as("n"))
    // distributed top-(start+nTerms-1) first (TakeOrderedAndProject),
    // then rank the bounded head — never a global single-partition window
    val terms = vocab
      .orderBy(col("n").desc, col("tok"))
      .limit(termRankStart + nTerms - 1)
      .withColumn("rk", row_number().over(org.apache.spark.sql.expressions
        .Window.orderBy(col("n").desc, col("tok"))))
      .filter(col("rk") >= termRankStart)
      .select(col("tok"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_dl"))
    // the term-filtered hit relation is consumed TWICE (df collect for
    // the audited idf, tf in the scoring plan): localCheckpoint
    // materializes the one corpus pass — it is nTerms-bounded per doc,
    // and without the cut the idf collect and the final job would each
    // re-run the corpus explode (measured +40% on t19 when the idf
    // moved driver-side without it)
    val hits = exploded.join(broadcast(terms), Seq("tok"))
      .localCheckpoint(false)
    val df_ = hits.distinct()
      .groupBy("tok").agg(count(lit(1)).as("df"))
    // idf: collected (nTerms rows), quantized driver-side with the
    // boundary audit, and joined back as a LITERAL relation — Math.log
    // here is the same JVM ln the former in-plan expr used, and the
    // audit fails loudly when a parameter would flip under a replaying
    // oracle's libm (VERDICT r11 / t21)
    val idfRows = df_.crossJoin(broadcast(stats))
      .select("tok", "df", "n_docs").collect()
    def idfPre(dfc: Long, n: Long): Double =
      math.log(1.0 + (n.toDouble - dfc + 0.5) / (dfc + 0.5)) * 1e9 + 0.5
    QuantAudit.audit("bm25-idf",
      idfRows.map(r => idfPre(r.getLong(1), r.getLong(2))).toSeq)
    val spark = df.sparkSession
    import spark.implicits._
    // 1 + (n − df + 0.5)/(df + 0.5) = (2n+2)/(2df+1) exactly — the idf
    // quantizes through [[ExactLn]] (r15; audit above stays the
    // replaying-oracle guard)
    val idf = idfRows.map(r => (r.getString(0),
        ExactLn.lnNanoFloor(2L * r.getLong(2) + 2L, 2L * r.getLong(1) + 1L)))
      .toSeq.toDF("tok", "idf_u")
    val tf = hits
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    tf.join(broadcast(idf), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("score_u", expr(
        "CAST(floor(idf_u * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * " +
          "(dl / (CAST(total_dl AS DOUBLE) / n_docs))))) + 0.5) AS BIGINT)"))
      .groupBy("doc_id").agg(sum(col("score_u")).as("su"))
      .select(col("doc_id"), round(col("su") / 1e9, 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  // -------------------------------------------------------------------
  // Count-min sketch (heavy hitters)
  // -------------------------------------------------------------------

  /** Count-min sketch over the token stream (Cormode & Muthukrishnan
    * 2005): `d` hash rows × `w` buckets of COUNTER SUMS, fully
    * deterministic — row j's hash is md5Long(j|token) % w, counters are
    * integer sums (order-independent), and the point estimate is the min
    * over rows. Every piece replays exactly in SQL, unlike engine-native
    * sketch registers.
    *
    * Returned here: the sketch applied to the exact top-`topK` tokens
    * (the heavy hitters), as (tok, n_exact, n_est, err) — err = est −
    * exact ≥ 0 always, the CMS one-sided guarantee the spec pins.
    *
    * Scale shape: tokenize is map-only; exact counts are one token-keyed
    * shuffle (the same exchange the top-k already pays, with map-side
    * combine); the sketch is built from the DISTINCT vocab (d rows per
    * distinct token, NOT per corpus token) into a fixed d×w relation —
    * the mergeable summary: sketches of partitions/days/shards add
    * elementwise (sum-of-sums), so a 100 TB corpus keeps ONE d×w-sized
    * result regardless of size, and partial aggregation does the merge
    * for free. Estimates join the k query tokens (broadcast) against the
    * d×w sketch. */
  /** The d×w CMS counter relation (r, bucket, c) of a corpus — the
    * mergeable summary itself: sketches of disjoint corpora combine by
    * per-(r,bucket) ADDITION (what [[graft.streaming.EventStreams
    * .cmsStreamQuery]] folds per micro-batch, and what partial
    * aggregation does within one job). */
  def cmsSketch(df: DataFrame, textCol: String, d: Int, w: Int): DataFrame = {
    require(d >= 1 && w >= 2, s"need d>=1, w>=2; got $d/$w")
    val counts = df
      .select(explode(tokens(lower(col(textCol)))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
    counts
      .select(explode(array(cmsRowBuckets(d, w): _*)).as("rb"), col("n"))
      .groupBy(col("rb.r").as("r"), col("rb.bucket").as("bucket"))
      .agg(sum(col("n")).as("c"))
  }

  private def cmsRowBuckets(d: Int, w: Int) = (0 until d).map { j =>
    struct(lit(j).as("r"), (md5Long(col("tok"), j) % w).as("bucket"))
  }

  def cmsHeavyHitters(df: DataFrame, textCol: String,
                      d: Int, w: Int, topK: Int): DataFrame = {
    require(d >= 1 && w >= 2, s"need d>=1, w>=2; got $d/$w")
    val counts = df
      .select(explode(tokens(lower(col(textCol)))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
    val rowBuckets = cmsRowBuckets(d, w)
    val sketch = counts
      .select(explode(array(rowBuckets: _*)).as("rb"), col("n"))
      .groupBy(col("rb.r").as("r"), col("rb.bucket").as("bucket"))
      .agg(sum(col("n")).as("c"))
    val top = counts.orderBy(col("n").desc, col("tok")).limit(topK)
    val queries = top
      .select(col("tok"), col("n"), explode(array(rowBuckets: _*)).as("rb"))
      .select(col("tok"), col("n"), col("rb.r").as("r"),
        col("rb.bucket").as("bucket"))
    queries.join(sketch, Seq("r", "bucket"))
      .groupBy("tok", "n")
      .agg(min(col("c")).as("n_est"))
      .select(col("tok"), col("n").as("n_exact"), col("n_est"),
        (col("n_est") - col("n")).as("err"))
  }

  // ---------------------------------------------------------------------
  // Subword (BPE) tokenization — the merge-table twin of the PQ-codebook
  // pattern: FIT on a deterministic sample with every rank md5-tie-broken,
  // then ENCODE map-only with the merge table baked into the expression
  // tree as literals. Real pretraining pipelines count, pack, and gate in
  // subword tokens (budgets differ 20-40% vs whitespace); this closes the
  // t-surface's largest gap vs production.
  //
  // Symbol-sequence representation: a word's symbols joined by single
  // spaces with one leading + one trailing space (" l o w "), so applying
  // merge (a,b) is literal-replace " a b " -> " ab " — non-overlapping
  // left-to-right in Java, Spark SQL, and DuckDB alike, which IS the BPE
  // merge convention. Both fit and encode apply each merge once, in rank
  // order, replace-all (ordered single-pass application — the fit's own
  // vocabulary states are reproduced exactly; the rare case where a later
  // merge re-creates an earlier merge's pair is deliberately NOT re-merged,
  // identically in both engines, so the contract stays hash-checkable).
  // ---------------------------------------------------------------------

  /** Fit `nMerges` BPE merges on the deterministic md5 1/`sampleMod`
    * document sample (the t11 LM-sample contract): whitespace-pretokenize
    * lowercased text, take the top-`vocabWords` words by (count DESC,
    * md5(word), word) — a BOUNDED collect, the same small-by-contract
    * driver literal as an LM vocab head — then iterate pair-count /
    * pick-best / apply on the driver (vocabWords × nMerges scalar work;
    * the corpus is never touched again). Pair ranks are deterministic:
    * weighted count DESC, then md5 of the "a b" pair key, then the key
    * itself — no engine-dependent hash-map iteration order leaks in. */
  def fitBpe(docs: DataFrame, textCol: String, idCol: String,
             vocabWords: Int = 2000, nMerges: Int = 16,
             sampleMod: Int = 20): Seq[(String, String)] = {
    fitBpeDriver(sampleWords(docs, textCol, idCol, vocabWords, sampleMod),
      nMerges)
  }

  /** The tokenizer fits' bounded word sample: the deterministic md5
    * 1/`sampleMod` document sample, whitespace-pretokenized and
    * lowercased, reduced to its top-`vocabWords` words by (count DESC,
    * md5(word), word) and collected with their counts. */
  private def sampleWords(docs: DataFrame, textCol: String, idCol: String,
                          vocabWords: Int, sampleMod: Int = 20)
      : Seq[(String, Long)] =
    docs.filter(
        pmod(md5Long(col(idCol).cast(StringType)), lit(sampleMod.toLong)) === 0L)
      .select(explode(tokens(lower(col(textCol)))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, md5(col("w")), col("w"))
      .limit(vocabWords)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The driver-side fit loop over a bounded weighted word list. Exposed
    * for the spec's hand-checked examples. */
  private[graft] def fitBpeDriver(words: Seq[(String, Long)],
                                  nMerges: Int): Seq[(String, String)] = {
    def spaced(w: String): String =
      " " + w.codePoints().toArray
        .map(cp => new String(Character.toChars(cp))).mkString(" ") + " "
    var vocab = words.map { case (w, f) => (spaced(w), f) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    for (_ <- 1 to nMerges) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (s, f) =>
        val syms = s.trim.split(" ")
        var j = 0
        while (j < syms.length - 1) {
          val k = (syms(j), syms(j + 1))
          counts(k) = counts.getOrElse(k, 0L) + f
          j += 1
        }
      }
      require(counts.nonEmpty,
        s"BPE fit exhausted adjacent pairs after ${merges.size} merges — " +
          s"the sample vocabulary is too small for nMerges=$nMerges")
      val best = counts.toSeq.minBy { case ((a, b), n) =>
        (-n, md5Hex(a + " " + b), a + " " + b)
      }._1
      merges += best
      val pat = " " + best._1 + " " + best._2 + " "
      val rep = " " + best._1 + best._2 + " "
      vocab = vocab.map { case (s, f) => (s.replace(pat, rep), f) }
    }
    merges.toSeq
  }

  /** Encode ONE word column to its space-joined BPE symbol string via
    * the literal merge chain: seed " c h a r s " via one
    * regexp_replace, then `nMerges` replace() calls in rank order.
    * This is the REFERENCE form — its semantics define the contract
    * (the oracle replays exactly these replaces) — but it does not
    * scale in the merge count: the expression tree and the per-word
    * passes both grow linearly, so a real 32k-merge table is
    * unusable. Production encode is [[graft.expressions
    * .BpeEncodeExpr]] (one compiled pass, merge table in the
    * expression instance, cost independent of table size); BpeSpec
    * pins the two equal on every fitted table and on the chain's edge
    * cases, and ScaleProbe measures the divergence. */
  def bpeSymbols(word: Column, merges: Seq[(String, String)]): Column = {
    val seeded = concat(lit(" "), regexp_replace(word, "(.)", "$1 "))
    merges.foldLeft(seeded) { case (c, (a, b)) =>
      call_function("replace", c, lit(s" $a $b "), lit(s" $a$b "))
    }
  }

  /** Encode ONE word column to its BPE symbol array — the
    * production kernel ([[graft.expressions.BpeEncodeExpr]]). */
  def bpeEncode(word: Column, merges: Seq[(String, String)]): Column =
    graft.expressions.TextExpressions.bpeEncode(word, merges)

  /** BPE symbol count of one word (compiled single-pass kernel). */
  def bpeSymbolCount(word: Column, merges: Seq[(String, String)]): Column =
    size(bpeEncode(word, merges)).cast(LongType)

  /** BPE symbol count via the literal replace chain — the reference
    * form ScaleProbe races against the kernel. */
  private[graft] def bpeSymbolCountChain(word: Column,
                                         merges: Seq[(String, String)]): Column =
    size(split(trim(bpeSymbols(word, merges)), " ")).cast(LongType)

  /** Per-document BPE accounting report (t20): whitespace vs subword
    * token counts and their ratio — the number that moves token budgets
    * 20-40% when a pipeline switches units. Explode + doc-keyed sum
    * (the t11 shape: repartition upstream by the id column and the agg
    * combines map-side); the merge chain itself is literal, so the scan
    * stays one codegen'd map stage. */
  def bpeStats(docs: DataFrame, textCol: String, idCol: String,
               merges: Seq[(String, String)]): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
      size(tokens(lower(col(textCol)))).cast(LongType).as("n_ws_tokens"))
    val perDoc = docs
      .select(col(idCol).as("doc_id"),
        explode(tokens(lower(col(textCol)))).as("w"))
      .select(col("doc_id"), bpeSymbolCount(col("w"), merges).as("n"))
      .groupBy("doc_id").agg(sum(col("n")).as("n_bpe"))
    base.join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_ws_tokens"),
        coalesce(col("n_bpe"), lit(0L)).as("n_bpe_tokens"),
        when(col("n_ws_tokens") > 0,
          round(coalesce(col("n_bpe"), lit(0L)).cast(DoubleType) /
            col("n_ws_tokens"), 6))
          .otherwise(lit(0.0)).as("bpe_per_ws"))
  }

  // ---------------------------------------------------------------------
  // Unigram-LM (SentencePiece-style) subword tokenization — the OTHER
  // production tokenizer family next to BPE (Kudo 2018, "Subword
  // Regularization: Improving Neural Network Translation Models with
  // Multiple Subword Candidates"): a piece VOCABULARY with unigram
  // probabilities, segmentation = Viterbi argmax of the piece-likelihood
  // product. Same delivery pattern as BPE: FIT on the deterministic md5
  // sample to bounded driver literals, ENCODE map-only with the piece
  // cost table baked into a compiled expression. Likelihoods live as
  // integer nano-nat COSTS (−ln p, the t11/t14/ExactLn grid, QuantAudit-
  // guarded), so the fit, the DP comparisons, and the oracle replay are
  // all integer-exact.
  // ---------------------------------------------------------------------

  /** Fit a unigram-LM piece model on the deterministic md5 1/`sampleMod`
    * document sample (the t11/t20 sample contract). Candidate seeding
    * and EM are Kudo §3 with the bounded, fixed-iteration determinism
    * this repo's gates require:
    *  - seed: every substring of length 1..`pieceMaxLen` of the top
    *    `vocabWords` sample words, weighted by word frequency; the
    *    candidate vocab is the top `candVocab` substrings by
    *    (count DESC, md5(piece), piece) UNION all single characters
    *    (coverage floor — Kudo keeps all single chars for the same
    *    reason);
    *  - initial costs: −ln(count/total) in exact nano-nats;
    *  - `emIters` hard-EM rounds: Viterbi-segment each vocab word under
    *    the current costs (the [[graft.expressions.UnigramCountExpr]]
    *    tie rule), count pieces on the best paths weighted by word
    *    frequency, Laplace(+1) so no candidate ever reaches cost ∞,
    *    refit costs. (Kudo's soft-EM uses forward-backward
    *    expectations; hard EM is the standard deterministic variant and
    *    every intermediate stage replays as SQL.)
    * Returns (piece → cost nano-nats, OOV single-char cost = the
    * 1/total floor of the FINAL iteration). */
  def fitUnigramLm(docs: DataFrame, textCol: String, idCol: String,
                   vocabWords: Int = 2000, pieceMaxLen: Int = 4,
                   candVocab: Int = 120, emIters: Int = 2)
      : (Map[String, Long], Long) = {
    fitUnigramDriver(sampleWords(docs, textCol, idCol, vocabWords),
      pieceMaxLen, candVocab, emIters)
  }

  /** The driver-side unigram fit over a bounded weighted word list.
    * Exposed for the spec's hand-checked examples. */
  private[graft] def fitUnigramDriver(words: Seq[(String, Long)],
                                      pieceMaxLen: Int, candVocab: Int,
                                      emIters: Int): (Map[String, Long], Long) = {
    require(words.nonEmpty, "unigram fit needs a non-empty sample vocab")
    def cps(w: String): Array[String] = w.codePoints().toArray
      .map(cp => new String(Character.toChars(cp)))
    // seed counts: every substring occurrence, weighted by word freq
    val seed = scala.collection.mutable.HashMap.empty[String, Long]
    words.foreach { case (w, f) =>
      val a = cps(w)
      var i = 0
      while (i < a.length) {
        var l = 1
        while (l <= math.min(pieceMaxLen, a.length - i)) {
          val p = a.slice(i, i + l).mkString
          seed(p) = seed.getOrElse(p, 0L) + f
          l += 1
        }
        i += 1
      }
    }
    val top = seed.toSeq.sortBy { case (p, n) => (-n, md5Hex(p), p) }
      .take(candVocab)
    val singles = seed.toSeq.filter { case (p, _) =>
      p.codePointCount(0, p.length) == 1 }
    val vocabPieces: Seq[(String, Long)] =
      (top ++ singles).distinctBy(_._1).sortBy(_._1)
    def costsOf(counts: Seq[(String, Long)], what: String)
        : (Map[String, Long], Long) = {
      val total = counts.map(_._2).sum
      require(total > 0, s"unigram $what: zero total count")
      // replayed-oracle fit: audit every pre-floor ln against the
      // flooring boundary (the replaying engine's libm must not flip)
      QuantAudit.audit(what,
        counts.map(c => math.log(total.toDouble / c._2) * 1e9 + 0.5) :+
          (math.log(total.toDouble) * 1e9 + 0.5))
      (counts.map { case (p, n) =>
        p -> ExactLn.lnNanoFloor(total, n) }.toMap,
        ExactLn.lnNanoFloor(total, 1L))
    }
    var (costs, oov) = costsOf(vocabPieces, "unigram-seed")
    for (it <- 1 to emIters) {
      // hard-EM E-step: Viterbi-count pieces on each word's best path
      val eCounts = scala.collection.mutable.HashMap.empty[String, Long]
      words.foreach { case (w, f) =>
        viterbiPieces(cps(w), costs, oov, pieceMaxLen).foreach { p =>
          eCounts(p) = eCounts.getOrElse(p, 0L) + f
        }
      }
      // M-step with Laplace(+1) over the FIXED candidate set
      val sm = vocabPieces.map { case (p, _) =>
        p -> (eCounts.getOrElse(p, 0L) + 1L) }
      val co = costsOf(sm, s"unigram-em$it")
      costs = co._1; oov = co._2
    }
    (costs, oov)
  }

  // Viterbi best-path pieces of one word — the UnigramCountExpr DP with
  // the path kept (fit-side only; the encode needs just the count)
  private def viterbiPieces(chars: Array[String], costs: Map[String, Long],
                            oovCost: Long, maxPieceLen: Int): Seq[String] = {
    val n = chars.length
    if (n == 0) return Nil
    val INF = Long.MaxValue
    val best = Array.fill(n + 1)(INF)
    val from = new Array[Int](n + 1)
    best(0) = 0L
    var j = 1
    while (j <= n) {
      var i = math.max(0, j - maxPieceLen)
      while (i < j) {
        if (best(i) != INF) {
          val piece = chars.slice(i, j).mkString
          val stepCost = costs.get(piece) match {
            case Some(c) => c
            case None if j - i == 1 => oovCost
            case None => -1L
          }
          if (stepCost >= 0L) {
            val cand = best(i) + stepCost
            if (cand < best(j)) { best(j) = cand; from(j) = i }
          }
        }
        i += 1
      }
      j += 1
    }
    var out = List.empty[String]
    var p = n
    while (p > 0) {
      val i = from(p)
      out = chars.slice(i, p).mkString :: out
      p = i
    }
    out
  }

  /** Per-document unigram-LM accounting report (t33) — [[bpeStats]]'s
    * shape for the second tokenizer family: whitespace vs unigram piece
    * counts and their ratio. */
  def unigramStats(docs: DataFrame, textCol: String, idCol: String,
                   costsU: Map[String, Long], oovCostU: Long,
                   pieceMaxLen: Int = 4): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
      size(tokens(lower(col(textCol)))).cast(LongType).as("n_ws_tokens"))
    val perDoc = docs
      .select(col(idCol).as("doc_id"),
        explode(tokens(lower(col(textCol)))).as("w"))
      .select(col("doc_id"),
        graft.expressions.TextExpressions.unigramCount(
          col("w"), costsU, oovCostU, pieceMaxLen).as("n"))
      .groupBy("doc_id").agg(sum(col("n")).as("n_uni"))
    base.join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_ws_tokens"),
        coalesce(col("n_uni"), lit(0L)).as("n_unigram_tokens"),
        when(col("n_ws_tokens") > 0,
          round(coalesce(col("n_uni"), lit(0L)).cast(DoubleType) /
            col("n_ws_tokens"), 6))
          .otherwise(lit(0.0)).as("unigram_per_ws"))
  }

  /** Fit a WORDPIECE vocabulary (Wu et al. 2016 / BERT's tokenizer —
    * the third production tokenizer family): form-tagged substring
    * counting over the deterministic 5% sample's bounded word vocab —
    * INITIAL pieces are substrings starting the word, CONTINUATION
    * pieces carry the `##` marker (the two forms count separately,
    * exactly as a BERT vocab file stores them) — then the top
    * `candVocab` pieces by weighted frequency (md5 tie-break, the
    * t20/t33 rule) plus the single-char coverage floor IN BOTH FORMS,
    * so every sample word segments without [UNK]; unsampled words may
    * legitimately fail to [UNK], BERT's semantics. Pure counting — the
    * oracle replays the whole fit in SQL. Pieces are literal strings:
    * a word that itself starts with `##` is keyed identically on both
    * engines (the same accepted ambiguity a real BERT vocab has). */
  def fitWordpieceVocab(docs: DataFrame, textCol: String, idCol: String,
                        vocabWords: Int = 2000, pieceMaxLen: Int = 4,
                        candVocab: Int = 120): Set[String] = {
    fitWordpieceDriver(sampleWords(docs, textCol, idCol, vocabWords),
      pieceMaxLen, candVocab)
  }

  /** Driver-side wordpiece fit over a bounded weighted word list
    * (exposed for the spec's hand-checked examples). */
  private[graft] def fitWordpieceDriver(words: Seq[(String, Long)],
                                        pieceMaxLen: Int, candVocab: Int)
      : Set[String] = {
    require(words.nonEmpty, "wordpiece fit needs a non-empty sample vocab")
    def cps(w: String): Array[String] = w.codePoints().toArray
      .map(cp => new String(Character.toChars(cp)))
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    words.foreach { case (w, f) =>
      val a = cps(w)
      var i = 0
      while (i < a.length) {
        var l = 1
        while (l <= math.min(pieceMaxLen, a.length - i)) {
          val p = (if (i == 0) "" else "##") + a.slice(i, i + l).mkString
          counts(p) = counts.getOrElse(p, 0L) + f
          l += 1
        }
        i += 1
      }
    }
    val top = counts.toSeq.sortBy { case (p, n) => (-n, md5Hex(p), p) }
      .take(candVocab).map(_._1)
    // single-char coverage floor, form-aware: `##x` counts its text
    // char, a bare piece counts itself (same CASE the oracle applies)
    val singles = counts.keys.filter { p =>
      val text = if (p.startsWith("##")) p.substring(2) else p
      text.nonEmpty && text.codePointCount(0, text.length) == 1
    }
    (top ++ singles).toSet
  }

  /** Per-document WORDPIECE accounting report (t36) — [[unigramStats]]'
    * shape for the third tokenizer family, plus the [UNK] incidence the
    * greedy all-or-nothing rule makes a first-class quality signal:
    * whitespace vs wordpiece counts, failed-word count, and the ratio. */
  def wordpieceStats(docs: DataFrame, textCol: String, idCol: String,
                     vocab: Set[String], pieceMaxLen: Int = 4): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
      size(tokens(lower(col(textCol)))).cast(LongType).as("n_ws_tokens"))
    val perDoc = docs
      .select(col(idCol).as("doc_id"),
        explode(tokens(lower(col(textCol)))).as("w"))
      .select(col("doc_id"),
        graft.expressions.TextExpressions.wordpieceCount(
          col("w"), vocab, pieceMaxLen).as("wp"))
      .groupBy("doc_id").agg(sum(col("wp.tk")).as("n_wp"),
        sum(col("wp.unk")).as("n_unk"))
    base.join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_ws_tokens"),
        coalesce(col("n_wp"), lit(0L)).as("n_wordpiece_tokens"),
        coalesce(col("n_unk"), lit(0L)).as("n_unk_words"),
        when(col("n_ws_tokens") > 0,
          round(coalesce(col("n_wp"), lit(0L)).cast(DoubleType) /
            col("n_ws_tokens"), 6))
          .otherwise(lit(0.0)).as("wordpiece_per_ws"))
  }

  /** DSIR hashed-feature column (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): unigrams + bigrams of
    * the lowercased whitespace tokens — the paper's hashed-ngram
    * feature set, ONE array per doc so the weight pass stays map-only. */
  private def dsirFeatures(text: Column): Column = {
    val tk = tokens(lower(text))
    val n = greatest(size(tk) - 1, lit(0))
    concat(tk, zip_with(slice(tk, lit(1), n), slice(tk, lit(2), n),
      (a, b) => concat(a, lit(" "), b)))
  }

  /** Fit the DSIR per-bucket IMPORTANCE LOG-RATIOS: features hash into
    * `buckets` md5 buckets (engine-deterministic, like every graft
    * sketch), the target distribution is counted over `isTarget` rows
    * and the raw distribution over ALL rows — one constant-state
    * map-side-combinable aggregation each, merged in one pass — then
    * delta(b) = ln p_target(b) − ln p_raw(b) with Laplace(+1)/bucket
    * smoothing, in integer NANO-NATS via [[ExactLn.lnNanoFloor]]
    * (host-exact) and [[QuantAudit]]-guarded so the oracle's libm ln
    * replay can never flip a floor. Bounded collect: `buckets` rows.
    * At 100 TB the fit is one pass with 2·B counters of state. */
  def fitDsirDelta(docs: DataFrame, textCol: String, isTarget: Column,
                   buckets: Int = 1024): Seq[Long] = {
    val rows = docs
      .select(explode(dsirFeatures(col(textCol))).as("f"), isTarget.as("t"))
      .select(pmod(md5Long(col("f")), lit(buckets.toLong)).as("b"), col("t"))
      .groupBy("b").agg(count(lit(1)).as("nr"),
        count(when(col("t"), 1)).as("nt"))
      .collect()
    val cntR = new Array[Long](buckets)
    val cntT = new Array[Long](buckets)
    rows.foreach { r =>
      val b = r.getLong(0).toInt
      cntR(b) = r.getLong(1); cntT(b) = r.getLong(2)
    }
    val totR = cntR.sum + buckets
    val totT = cntT.sum + buckets
    QuantAudit.audit("dsir-buckets",
      (0 until buckets).flatMap(b => Seq(
        math.log(totR.toDouble / (cntR(b) + 1)) * 1e9 + 0.5,
        math.log(totT.toDouble / (cntT(b) + 1)) * 1e9 + 0.5)))
    // delta = cost_raw − cost_target = ln p_t − ln p_r (both −ln forms)
    (0 until buckets).map(b =>
      ExactLn.lnNanoFloor(totR, cntR(b) + 1) -
        ExactLn.lnNanoFloor(totT, cntT(b) + 1))
  }

  /** Per-doc DSIR importance weight: Σ over the doc's hashed features
    * of the broadcast-literal bucket delta — ONE map-only compiled
    * projection (the PQ-codebook literal pattern), no shuffle, no text
    * exchanged. Positive = more target-like. */
  def dsirWeights(docs: DataFrame, textCol: String, idCol: String,
                  delta: Seq[Long], buckets: Int = 1024): DataFrame = {
    require(delta.length == buckets, s"delta table must have $buckets rows")
    val lut = typedlit(delta)
    docs.select(col(idCol).as("doc_id"),
        dsirFeatures(col(textCol)).as("fs"))
      .select(col("doc_id"),
        size(col("fs")).cast(LongType).as("n_features"),
        coalesce(aggregate(transform(col("fs"), f =>
            element_at(lut, (pmod(md5Long(f), lit(buckets.toLong)) + 1)
              .cast(org.apache.spark.sql.types.IntegerType))),
          lit(0L), (acc, x) => acc + x), lit(0L)).as("dsir_weight_nano"))
  }

  // -------------------------------------------------------------------
  // Incremental data card (the t22 release datasheet as a delta fold)
  // -------------------------------------------------------------------

  /** Per-batch DATA-CARD STATE: one row per (fingerprint, lang, source)
    * with doc/token/char/PII partial sums — everything the t22 card
    * needs, with NO text retained. Dup membership is RETROACTIVE (a new
    * copy of an old fingerprint flips the old doc into the dup count
    * too), so a purely additive per-group fold would be wrong; keyed by
    * fingerprint, the retroactivity becomes a plain counter merge.
    * State size is bounded by distinct content × groups (the
    * fingerprintRepState contract), not corpus size. */
  def dataCardState(docs: DataFrame, textCol: String, langCol: String,
                    sourceCol: String, nCharsCol: String): DataFrame = {
    import graft.functions.GraftFunctions.{emailRe, fingerprint, ipv4Re, phoneRe, tokenCount}
    docs.select(col(langCol).as("lang"), col(sourceCol).as("source"),
        col(nCharsCol).cast(LongType).as("n_chars"),
        fingerprint(col(textCol)).as("fp"),
        tokenCount(col(textCol)).cast(LongType).as("n_toks"),
        (col(textCol).rlike(emailRe) || col(textCol).rlike(phoneRe) ||
          col(textCol).rlike(ipv4Re)).as("has_pii"))
      .groupBy("fp", "lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_toks")), lit(0L)).as("n_tokens"),
        coalesce(sum(col("n_chars")), lit(0L)).as("n_chars"),
        sum(when(col("has_pii"), 1L).otherwise(0L)).as("n_pii_docs"))
  }

  /** Fold a batch's state into the accumulated state: one keyed counter
    * merge — O(state), never a rescan of old text. */
  def mergeDataCardState(state: DataFrame, batchState: DataFrame): DataFrame =
    state.unionByName(batchState)
      .groupBy("fp", "lang", "source")
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("n_pii_docs")).as("n_pii_docs"))

  /** The t22 card from state alone: per-group sums plus dup membership
    * recomputed from CORPUS-WIDE fingerprint totals — the retroactive
    * flip falls out of the state keying (a fingerprint's total spans
    * every batch that ever delivered it). */
  def dataCardFromState(state: DataFrame): DataFrame = {
    val fpTotals = state.filter(col("fp").isNotNull)
      .groupBy("fp").agg(sum(col("n_docs")).as("fp_n"))
      .filter(col("fp_n") > 1).select(col("fp"), lit(true).as("is_dup"))
    state.join(fpTotals, Seq("fp"), "left_outer")
      .groupBy("lang", "source")
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        sum(when(col("is_dup"), col("n_docs")).otherwise(0L)).as("n_dup_docs"),
        sum(col("n_pii_docs")).as("n_pii_docs"))
  }

  // -------------------------------------------------------------------
  // Supervised text classification: multinomial Naive Bayes
  // -------------------------------------------------------------------

  /** Integer nano-nat ln: floor(ln(x)*1e9 + 0.5) — the t11 quantization
    * contract (floor(x+0.5), never round(): Java and DuckDB round()
    * disagree on negative halves). */
  private def lnNano(x: Column): Column =
    floor(log(x) * 1e9 + 0.5).cast(LongType)

  /** Fit a multinomial Naive Bayes classifier (add-one smoothing over a
    * fixed top-`vocabSize` vocabulary) on a labeled sample — the
    * classic trained QUALITY/DOMAIN/LANGUAGE classifier of pretraining
    * curation (fastText-style supervision without the embedding): pure
    * counting, so every parameter is an exact integer ratio and the
    * whole training replays in SQL.
    *
    * Returns (priors, grid):
    *  - priors: (label, prior_lp) — quantized ln of the class's doc
    *    share of the sample;
    *  - grid: (label, tok, lp) — the FULL classes×vocab table with
    *    quantized ln((count+1)/(classTotal+V)); absent pairs get the
    *    smoothing floor, so scoring never branches on presence.
    *
    * All log-probs are integer nano-nats ([[lnNano]]): per-document
    * scores are integer SUMS — exact, order-free, cross-engine. Scale
    * shape: one explode+groupBy over the SAMPLE, a top-k vocab head
    * (TakeOrderedAndProject, `vocabSize` rows), and a classes×vocab
    * grid small enough to broadcast — the same literal-codebook
    * contract as the LM/PQ families. */
  def naiveBayesFit(sample: DataFrame, textCol: String, labelCol: String,
                    vocabSize: Int): (DataFrame, DataFrame) = {
    val toks = sample.select(col(labelCol).as("label"),
      explode(tokens(lower(col(textCol)))).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(vocabSize)
      .select("tok")
    val classes = sample.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_docs"))
    val totalDocs = classes.agg(sum(col("n_docs")).as("n_all"))
    val priors = classes.crossJoin(broadcast(totalDocs))
      .select(col("label"),
        lnNano(col("n_docs").cast(DoubleType) / col("n_all")).as("prior_lp"))
    val ct = toks.join(broadcast(vocab), Seq("tok"))
      .groupBy("label", "tok").agg(count(lit(1)).as("n"))
    val ctot = ct.groupBy("label").agg(sum(col("n")).as("n_tok"))
    val grid = classes.select("label").crossJoin(broadcast(vocab))
      .join(ct, Seq("label", "tok"), "left_outer")
      .join(ctot, Seq("label"), "left_outer")
      .select(col("label"), col("tok"),
        lnNano((coalesce(col("n"), lit(0L)) + lit(1.0)) /
          (coalesce(col("n_tok"), lit(0L)) + lit(vocabSize.toLong))
            .cast(DoubleType)).as("lp"))
    (priors, grid)
  }

  /** A fitted NB model COLLECTED to literals: every parameter an
    * integer nano-nat the scoring paths (Spark AND oracle) consume
    * verbatim — the PQ-codebook contract (VERDICT r11 next-#1). The
    * grid is dense (classes × vocab, absent pairs at the smoothing
    * floor) and trivially broadcast-sized. */
  final case class NbModel(priors: Seq[(String, Long)],
                           grid: Seq[(String, String, Long)],
                           minBoundaryDist: Double)

  /** [[naiveBayesFit]]'s counting run driver-side to LITERALS: the
    * count relations (classes, vocab head, class×token counts — all
    * sample-vocab-bounded) are collected and the ln quantization
    * happens in ONE place, on the driver, with the
    * [[QuantAudit]] boundary audit over every parameter. Both scoring
    * paths then consume these integers verbatim, so the hash gate no
    * longer depends on two libms agreeing near a flooring boundary
    * (the t21 r11 driver incident). Since r15 the quantization itself
    * is [[ExactLn]] — a certified fixed-point ln over the exact
    * integer ratios — so the fit is bit-identical on ANY host, not
    * just replayable on this one; [[naiveBayesFit]]'s in-plan libm
    * replay is pinned within ±1 nano-nat by NaiveBayesSpec. */
  def naiveBayesFitLiterals(sample: DataFrame, textCol: String,
                            labelCol: String, vocabSize: Int): NbModel = {
    val toks = sample.select(col(labelCol).as("label"),
      explode(tokens(lower(col(textCol)))).as("tok"))
      .persist()
    try {
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok")).limit(vocabSize)
        .select("tok").collect().map(_.getString(0)).toSeq
      val classes = sample.groupBy(col(labelCol).as("label"))
        .agg(count(lit(1)).as("n_docs"))
        .collect().map(r => r.getString(0) -> r.getLong(1))
        .sortBy(_._1).toSeq
      val totalDocs = classes.map(_._2).sum
      require(totalDocs > 0, "naiveBayesFitLiterals: empty sample")
      val vocabSet = vocab.toSet
      val ct = toks.filter(col("tok").isInCollection(vocabSet))
        .groupBy("label", "tok").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      val ctot = ct.groupBy(_._1._1).map { case (l, m) => l -> m.values.sum }
      // audit telemetry only (headroom trend per round); the QUANTIZED
      // integers below come from [[ExactLn]], never from this libm ln
      def priorPre(n: Long): Double =
        math.log(n.toDouble / totalDocs) * 1e9 + 0.5
      def gridPre(l: String, t: String): Double =
        math.log((ct.getOrElse((l, t), 0L) + 1.0) /
          (ctot.getOrElse(l, 0L) + vocabSize.toLong).toDouble) * 1e9 + 0.5
      val pres = classes.map(c => priorPre(c._2)) ++
        (for (c <- classes; t <- vocab) yield gridPre(c._1, t))
      // literal contract: immune to cross-engine libm skew by
      // construction — audit is log-only, recording the headroom
      val minDist = QuantAudit.audit("nb-classifier", pres, hardFail = false)
      // exact-integer ln (VERDICT r14 next-#3): every parameter is the
      // ln of an integer ratio, so the fit is bit-identical on ANY
      // host — the last way two environments could feed the two
      // scoring paths different literals is gone by construction
      NbModel(
        classes.map { case (l, n) =>
          l -> ExactLn.lnNanoFloor(n, totalDocs) },
        for (c <- classes; t <- vocab)
          yield (c._1, t, ExactLn.lnNanoFloor(
            ct.getOrElse((c._1, t), 0L) + 1L,
            ctot.getOrElse(c._1, 0L) + vocabSize.toLong)),
        minDist)
    } finally toks.unpersist(blocking = false)
  }

  /** Score every document against a fitted NB model and keep the argmax
    * class: (doc_id, true label, pred label, score in nano-nats,
    * correctness). Deterministic tie-break (score desc, label asc).
    *
    * Scale shape: scoring is one doc-keyed explode+groupBy (map-side
    * combinable token counts), a broadcast join against the
    * classes×vocab grid, and one doc-keyed argmax window over |classes|
    * rows per doc — no shuffle carries more than (doc, class) rows.
    * Out-of-vocabulary tokens contribute nothing (the fixed-vocab
    * multinomial contract); a doc with NO vocab tokens is scored on
    * priors alone. */
  def naiveBayesClassify(docs: DataFrame, textCol: String, idCol: String,
                         labelCol: String, priors: DataFrame,
                         grid: DataFrame): DataFrame = {
    val docToks = docs
      .select(col(idCol).as("doc_id"),
        explode(tokens(lower(col(textCol)))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("n"))
    val contrib = docToks.join(broadcast(grid), Seq("tok"))
      .groupBy("doc_id", "label")
      .agg(sum(col("n") * col("lp")).as("tok_lp"))
    val scored = docs.select(col(idCol).as("doc_id"),
        col(labelCol).as("true_label"))
      .crossJoin(broadcast(priors))
      .join(contrib, Seq("doc_id", "label"), "left_outer")
      .select(col("doc_id"), col("true_label"), col("label"),
        (col("prior_lp") + coalesce(col("tok_lp"), lit(0L)))
          .as("score_nano"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score_nano").desc, col("label"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("label").as("pred_label"),
        col("score_nano"),
        (col("label") === col("true_label")).as("is_correct"))
  }

  /** EPOCH MIXTURE MATERIALIZATION — the step after t10's mixture
    * REPORT: turn temperature-scaled language targets into a concrete
    * per-document repeat plan for one training epoch (XLM's alpha=0.5
    * smoothing, Lample & Conneau 2019 — chosen over mT5's 0.3 because
    * sqrt(n) round-half-up in nano-units has an EXACT pure-integer
    * form, so the whole pipeline contains literally zero
    * floating-point operations):
    *
    *   w_nano(l)    = (isqrt(4·n(l)·10¹⁸) + 1) div 2
    *                  (≡ round-half-up of sqrt(n)·1e9, by integers:
    *                  floor(x + 1/2) = (floor(2x) + 1) div 2 and
    *                  2·sqrt(n)·1e9 = sqrt(4·n·10¹⁸))
    *   boost_ppm(l) = 10⁶·w_nano(l)·N div (Σw_nano·n(l))
    *                  (= 10⁶·p(l)/share(l) in ONE floor — the double-
    *                  floored p_ppm div share_ppm form underflowed to a
    *                  div-by-zero for languages below 1 ppm share,
    *                  ADVICE r13)
    *   n_repeats    = boost div 1e6 + (md5(seed|id) mod 1e6 < boost mod 1e6)
    *
    * All products live in DECIMAL(38,0): with Σn ≤ ~2.1e15 documents
    * (generous at 100 TB — that is ~50 bytes/doc) the largest term
    * 10⁶·w_nano·N ≤ 10¹⁵·N^1.5 < 10³⁸ stays exact (N^1.5 < 10²³ ⟺
    * N < 10^(46/3) ≈ 2.15e15); beyond that the decimal overflows
    * LOUDLY rather than wrapping.
    *
    * The fractional part is DERANDOMIZED stochastic rounding: each doc
    * flips a deterministic md5 coin, so Σ repeats per language tracks
    * the target in expectation with zero RNG state (the d19/t15 sample
    * contract) and the oracle replays every coin exactly — including
    * the isqrt, via a recursive-CTE integer Newton in HUGEINT
    * ([[graft.expressions.IsqrtExpr]] has the twin-proof).
    *
    * At scale: one lang-keyed count (map-side combinable), the bounded
    * per-lang plan (|langs| rows) broadcast back onto the corpus, and
    * one map-only projection for the coin — no corpus-sized shuffle.
    *
    * Output: (doc_id, lang, boost_ppm, n_repeats). */
  def epochMixPlan(df: DataFrame, langCol: String, idCol: String,
                   seed: Int): DataFrame = {
    val counts = df.groupBy(col(langCol).as("lang"))
      .agg(count(lit(1)).as("n"))
    val plan = counts
      .withColumn("m",
        col("n").cast(DataTypes.createDecimalType(38, 0)) *
          lit(java.math.BigDecimal.valueOf(4000000000000000000L))) // 4·10¹⁸
      .withColumn("isq",
        graft.expressions.MathExpressions.isqrtDec(col("m"))
          .cast(LongType)) // isqrt(4n·10¹⁸) ≤ 6.07e18 fits a long exactly
      .withColumn("w_nano", expr("(isq + 1) div 2"))
      .withColumn("boost_ppm", expr(
        """CAST(1000000 AS DECIMAL(38,0)) * w_nano * sum(n) over ()
          | div (CAST(sum(w_nano) over () AS DECIMAL(38,0)) * n)"""
          .stripMargin))
      .select("lang", "boost_ppm")
    df.select(col(idCol).as("doc_id"), col(langCol).as("lang"))
      .join(broadcast(plan), Seq("lang"))
      .withColumn("coin", pmod(md5Long(
        col("doc_id").cast(StringType), seed), lit(1000000L)))
      .select(col("doc_id"), col("lang"), col("boost_ppm"),
        (expr("boost_ppm div 1000000") +
          when(col("coin") < pmod(col("boost_ppm"), lit(1000000L)), 1L)
            .otherwise(0L)).as("n_repeats"))
  }

  // -------------------------------------------------------------------
  // Logistic-regression rule distillation (t28)
  // -------------------------------------------------------------------

  /** A fitted binary linear classifier over the Gopher feature vector,
    * as EFFECTIVE nano-quantized integer weights on the RAW integer
    * features (standardization folded in at fit time): score_nano =
    * wNano·x + bNano, predict score_nano >= 0. `wNano` is in
    * [[lrFeatureNames]] order; both scoring paths (Spark and the
    * DuckDB oracle) consume these integers verbatim — the t21 literal
    * contract, with NO cross-engine float anywhere (the features are
    * integers, the dot product is integer). */
  final case class LrModel(wNano: Seq[Long], bNano: Long, iters: Int)

  /** Feature order for [[LrModel.wNano]]: the seven quantities the
    * Gopher rule battery thresholds, as exact integers (ratios in
    * micro-units via floor(r*1e6+0.5) over the round(·,6) values the
    * t13 gate already proves cross-engine equal). */
  val lrFeatureNames: Seq[String] = Seq("n_words", "mwl_micro",
    "sym_micro", "alpha_micro", "bullet_micro", "ellipsis_micro",
    "n_stop_hits")

  /** (doc_id, x = array of the 7 integer features, y = the Gopher
    * verdict) — derived from [[gopherProfile]] so the label and every
    * feature reuse the t13-gated arithmetic verbatim. */
  def lrFeatures(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    def micro(c: String): Column =
      floor(col(c) * lit(1e6) + lit(0.5)).cast(LongType)
    gopherProfile(df, textCol, idCol).select(col("doc_id"),
      array(col("n_words"), micro("mean_word_len"), micro("symbol_ratio"),
        micro("alpha_frac"), micro("bullet_frac"), micro("ellipsis_frac"),
        col("n_stop_hits")).as("x"),
      col("gopher_pass").cast(IntegerType).cast(DoubleType).as("y"))
  }

  /** DISTILL the Gopher rule battery into a linear model — the
    * fastText/CCNet move (Wenzek et al. 2020 train a classifier to
    * reproduce a curation signal, then deploy the cheap model): fit a
    * ridge-regularized logistic regression on the corpus with the rule
    * verdict as the label, by IRLS (Newton) — each iteration is ONE
    * distributed aggregation producing the gradient and Hessian of the
    * 8-parameter model; the d×d solve is driver-side on a
    * constant-size matrix (the literal-contract collect).
    *
    * Bit-determinism across JVMs (the t21 refit contract): every
    * distributed sum is accumulated in DECIMAL(38,18) — exact and
    * order-independent under Spark's partial aggregation — so two fits
    * of the same table produce identical doubles on the driver, and
    * the nano-quantized literals match the sidecar from any JVM.
    * Driver arithmetic is fixed-order; exp is the platform libm
    * (deterministic within a platform; the sidecar pins cross-process
    * agreement regardless).
    *
    * Standardization (computed from exact-decimal sums) conditions the
    * Newton steps, then folds back into effective RAW-feature weights:
    * wEff_j = w_j/sigma_j, bEff = b - sum(w_j mu_j / sigma_j); a
    * zero-variance feature contributes nothing (wEff 0). Newton steps
    * are inf-norm-clamped at 10 — near-separable labels (a rule
    * conjunction often is) otherwise double the weights every step
    * into sigmoid saturation.
    *
    * At scale: featurization is one map-only pass (the t13
    * expressions), materialized once (localCheckpoint) as a SKINNY
    * (y, x) relation; each of the 8 Newton jobs is a full-corpus
    * map-side-combinable aggregation of 44 decimal sums (8 gradient +
    * 36 upper-triangle Hessian entries) — no shuffle wider than one
    * row of partials. Fit cost = 8 × one scan of 9 numeric columns,
    * independent of document text size. The ridge penalty is 1e-3 per
    * document. */
  def logisticDistillFit(df: DataFrame, textCol: String,
                         idCol: String): LrModel = {
    val (iters, ridge) = (8, 1e-3)
    val d = lrFeatureNames.size + 1 // + bias
    val feats = lrFeatures(df, textCol, idCol)
      .select(col("y"), col("x")).localCheckpoint(false)
    val dec = DataTypes.createDecimalType(38, 18)
    def exact(c: Column): Column = sum(c.cast(dec)).cast(DoubleType)
    // integer moments in DECIMAL(38,0): scale 0 is exact for integers
    // with 1e38 headroom. The SQUARE must also happen in decimal space:
    // a single junk mega-token (one 1e6-char "word") puts mwl_micro at
    // ~1e12, whose LongType square (~1e24) silently wraps — so cast
    // BEFORE multiplying, never square the long
    val dec0 = DataTypes.createDecimalType(38, 0)
    def exactInt(c: Column): Column = sum(c.cast(dec0)).cast(DoubleType)
    def exactIntSq(c: Column): Column =
      sum(c.cast(dec0) * c.cast(dec0)).cast(DoubleType)
    // standardization moments from exact integer sums
    val mRow = feats.select(
      (count(lit(1)).cast(DoubleType) ::
        (0 until d - 1).map(j => exactInt(element_at(col("x"), j + 1)))
          .toList :::
        (0 until d - 1).map(j => exactIntSq(element_at(col("x"), j + 1)))
          .toList): _*).head()
    val nDocs = mRow.getDouble(0)
    require(nDocs > 0, "logisticDistillFit: empty corpus")
    val mu = Array.tabulate(d - 1)(j => mRow.getDouble(1 + j) / nDocs)
    val sigma = Array.tabulate(d - 1) { j =>
      val v = mRow.getDouble(d + j) / nDocs - mu(j) * mu(j)
      if (v > 0) math.sqrt(v) else 1.0
    }
    // z_j as columns (z_bias = 1); rebuilt per iteration from literals
    def zCol(j: Int): Column =
      if (j == d - 1) lit(1.0)
      else (element_at(col("x"), j + 1).cast(DoubleType) - lit(mu(j))) /
        lit(sigma(j))
    val w = Array.fill(d)(0.0)
    for (_ <- 1 to iters) {
      val margin = (0 until d).map(j => zCol(j) * lit(w(j))).reduce(_ + _)
      // sigmoid via when(): exp(-t) overflows to Inf for very negative
      // t and 1/Inf = 0.0 — correct, no NaN
      val p = lit(1.0) / (lit(1.0) + exp(-margin))
      val r = p * (lit(1.0) - p)
      val gCols = (0 until d).map(j => exact((p - col("y")) * zCol(j)))
      val hCols = for { j <- 0 until d; k <- j until d }
        yield exact(r * zCol(j) * zCol(k))
      val row = feats.select((gCols ++ hCols): _*).head()
      val g = Array.tabulate(d)(j => row.getDouble(j) + ridge * nDocs * w(j))
      val h = Array.ofDim[Double](d, d)
      var idx = d
      for (j <- 0 until d; k <- j until d) {
        h(j)(k) = row.getDouble(idx); h(k)(j) = row.getDouble(idx); idx += 1
      }
      for (j <- 0 until d) h(j)(j) += ridge * nDocs
      val delta = solve(h, g)
      val m = delta.map(math.abs).max
      val s = if (m > 10.0) 10.0 / m else 1.0
      for (j <- 0 until d) w(j) -= s * delta(j)
    }
    // fold standardization into effective raw-feature weights
    val wEff = Array.tabulate(d - 1)(j => w(j) / sigma(j))
    val bEff = w(d - 1) - (0 until d - 1).map(j => w(j) * mu(j) / sigma(j)).sum
    def nano(x: Double): Long = math.floor(x * 1e9 + 0.5).toLong
    LrModel(wEff.map(nano).toSeq, nano(bEff), iters)
  }

  /** Gaussian elimination with partial pivoting on a d×d system —
    * driver-side, fixed operation order (bit-deterministic). */
  private def solve(a0: Array[Array[Double]], b0: Array[Double])
      : Array[Double] = {
    val d = b0.length
    val a = a0.map(_.clone()); val b = b0.clone()
    for (c <- 0 until d) {
      var piv = c
      for (r <- c + 1 until d) if (math.abs(a(r)(c)) > math.abs(a(piv)(c))) piv = r
      val tmp = a(c); a(c) = a(piv); a(piv) = tmp
      val tb = b(c); b(c) = b(piv); b(piv) = tb
      require(a(c)(c) != 0.0, "singular system (ridge should prevent this)")
      for (r <- c + 1 until d) {
        val f = a(r)(c) / a(c)(c)
        for (k <- c until d) a(r)(k) -= f * a(c)(k)
        b(r) -= f * b(c)
      }
    }
    val x = new Array[Double](d)
    for (c <- d - 1 to 0 by -1) {
      var s = b(c)
      for (k <- c + 1 until d) s -= a(c)(k) * x(k)
      x(c) = s / a(c)(c)
    }
    x
  }

  /** Score every document with the distilled literals: integer dot
    * product on the integer features — map-only, no float anywhere in
    * the gate. Accumulated in DECIMAL(38,0) (ADVICE r13): the fit
    * guards the mega-token hazard (mwl_micro ~1e12 × wNano ~1e9-1e10
    * exceeds 2^63) by squaring in decimal, and the scoring path must
    * not reintroduce it as a raw-long multiply that ANSI-throws on a
    * pathological document instead of scoring it; the final score is
    * CLAMPED into BIGINT range before the cast (VERDICT r14: the
    * previous raw `.cast(LongType)` made the ANSI cast itself the
    * overflow — a mega-token document that the DECIMAL accumulation
    * survives would then throw instead of scoring). The clamp keeps
    * the sign, so `pred` is exact even on a saturated score — a score
    * past ±2^63 nano-nats (±9.2e9 nats) is decided, not ambiguous.
    * Oracle twin accumulates in HUGEINT and clamps identically.
    * Output: (doc_id, score_nano, pred, label, correct). */
  def logisticDistillScore(df: DataFrame, textCol: String, idCol: String,
                           m: LrModel): DataFrame = {
    val dec0 = DataTypes.createDecimalType(38, 0)
    lrFeatures(df, textCol, idCol).select(col("doc_id"),
        least(greatest(
          m.wNano.zipWithIndex.map { case (wj, j) =>
            lit(wj).cast(dec0) * element_at(col("x"), j + 1).cast(dec0)
          }.reduce(_ + _) + lit(m.bNano).cast(dec0),
          lit(Long.MinValue).cast(dec0)), lit(Long.MaxValue).cast(dec0))
          .cast(LongType).as("score_nano"),
        (col("y") > 0.5).as("label"))
      .withColumn("pred", col("score_nano") >= 0L)
      .withColumn("correct", col("pred") === col("label"))
      .select("doc_id", "score_nano", "pred", "label", "correct")
  }
}
