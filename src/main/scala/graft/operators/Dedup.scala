package graft.operators

import graft.expressions.{TextExpressions, VectorExpressions, WordShinglesExpr}
import graft.functions.GraftFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for a large-scale training-data pipeline.
  * All hashing is md5-derived ([[GraftFunctions.md5Long]]) so results are
  * deterministic across engines and cluster sizes — no RNG state, no
  * engine-native murmur.
  *
  * Scale notes (the design constraint for every operator here):
  *  - exact dedup = one hash-partitioned groupBy on the fingerprint; at
  *    100 TB this is a single shuffle keyed by a 128-bit digest with near
  *    perfect key distribution.
  *  - minhash/simhash candidate generation is linear: each doc emits a
  *    constant number of (band-key, doc) rows, and only docs sharing a
  *    band bucket are pair-joined. Pairwise work is confined to buckets —
  *    the LSH contract — so the self-join never goes quadratic globally.
  *  - verification (exact jaccard / hamming) runs only on candidates.
  */
object Dedup {

  // -------------------------------------------------------------------
  // Exact dedup
  // -------------------------------------------------------------------

  /** Exact dedup on the normalized-text fingerprint: one row per distinct
    * fingerprint with the keeper (min id) and duplicate count. */
  def exactDuplicates(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol), fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keeper_id"),
           count(lit(1)).as("n_copies"))

  /** The deduplicated relation itself: keep exactly the keeper rows
    * (min id per fingerprint). One window pass = one shuffle on the
    * fingerprint, vs. the groupBy + semi-join formulation's two. */
  def dropExactDuplicates(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("graft_fp_"))
    df.withColumn("graft_fp_", fingerprint(col(textCol)))
      .withColumn("graft_keep_", col(idCol) === min(col(idCol)).over(w))
      .filter(col("graft_keep_"))
      .drop("graft_fp_", "graft_keep_")
  }

  // -------------------------------------------------------------------
  // Shingles
  // -------------------------------------------------------------------

  /** Distinct word n-gram shingles of the lowercased text, as an array
    * column. One compiled call per row ([[WordShinglesExpr]]); the
    * higher-order formulation (transform+slice+concat_ws) paid an
    * interpreted lambda dispatch per shingle and dominated the MinHash
    * bench. DuckDB twin (n=3):
    *   list_distinct(list_transform(range(1, len(toks)-1),
    *     i -> array_to_string(toks[i:i+2], ' ')))
    */
  def wordShingles(textCol: Column, n: Int): Column =
    TextExpressions.wordShingles(lower(textCol), n)

  // -------------------------------------------------------------------
  // MinHash + LSH
  // -------------------------------------------------------------------

  /** Exact jaccard on the shingle sets of a candidate-pair relation:
    * joins the (id, sh) base back onto (id1, id2) and thresholds. */
  private def jaccardVerify(cand: DataFrame, base: DataFrame,
                            threshold: Double): DataFrame = {
    val b1 = base.select(col("id").as("id1"), col("sh").as("sh1"))
    val b2 = base.select(col("id").as("id2"), col("sh").as("sh2"))
    cand.join(b1, Seq("id1")).join(b2, Seq("id2"))
      .withColumn("jaccard",
        size(array_intersect(col("sh1"), col("sh2"))).cast(DoubleType) /
          size(array_union(col("sh1"), col("sh2"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Shared banded-MinHash candidate pipeline, EXACT-DEDUP-FIRST
    * (VERDICT r6 next-#2): group the corpus by normalized-text
    * fingerprint, then shingle / minhash / band / pair only the DISTINCT
    * fingerprints' keeper docs. Exact copies are d01's findings — the
    * pair stage stops paying signature + bucket + verify cost for them
    * (a web crawl's duplication is mostly exact, so at 100 TB this is
    * the difference between pairing the crawl and pairing its distinct
    * content). Each surviving pair carries `weight` = n_copies(id1) ×
    * n_copies(id2) — the number of underlying document pairs it
    * represents; same-fingerprint pairs (all jaccard 1.0) are NOT
    * reported here, exactly because [[exactDuplicates]] already names
    * them.
    *
    * Pipeline: fp keeper/count window (one fp-keyed shuffle — the same
    * exchange d01 pays) -> shingles -> k-minhash -> band keys ->
    * explode -> bucket self-join (id1 < id2) -> distinct candidate pair
    * -> exact jaccard on the shingle sets -> threshold -> copy-count
    * weights. [[minhashPairs]] and [[ngramJaccardPairs]] are both
    * instances (different k/bands recall points).
    *
    * The signature is ONE compiled call per doc ([[graft.expressions
    * .MinHashSigExpr]]) — map-only, no shuffle of shingle rows (the
    * round-1 exploded-aggregate formulation is recorded in PLANS.md).
    * The band join carries only (id, band); shingle arrays are joined
    * back for the (few) surviving candidates.
    */
  private def bandedJaccardPairs(df: DataFrame, textCol: String,
                                 idCol: String, n: Int, k: Int,
                                 bands: Int, threshold: Double): DataFrame = {
    // lazy localCheckpoint: the keeper relation feeds THREE subtrees
    // (the shingle base and both copy-count weight joins) — without a
    // cut the fp-keyed window would run once per subtree. Same
    // GC-freed contract as spanDedup's occurrence relation (ADVICE r6).
    val reps = fingerprintReps(df, textCol, idCol).localCheckpoint(false)
    val (base, banded) = bandedRelations(reps, "text", "id", n, k, bands)
    val l = banded.select(col("id").as("id1"), col("band"))
    val rt = banded.select(col("id").as("id2"), col("band"))
    val cand = l.join(rt, Seq("band"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    // copy-count weights: the verified pair relation is the SMALL side
    // (true near-dup volume), the rep relation one row per distinct
    // fingerprint — AQE broadcasts whichever side is bounded
    val w1 = reps.select(col("id").as("id1"), col("n_copies").as("nc1"))
    val w2 = reps.select(col("id").as("id2"), col("n_copies").as("nc2"))
    jaccardVerify(cand, base, threshold)
      .join(w1, Seq("id1")).join(w2, Seq("id2"))
      .select(col("id1"), col("id2"), col("jaccard"),
        (col("nc1") * col("nc2")).as("weight"))
  }

  /** One keeper row per distinct normalized-text fingerprint:
    * (fp, id = keeper, text, n_copies). One fp-keyed window shuffle. */
  private def fingerprintReps(df: DataFrame, textCol: String,
                              idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    df.select(col(idCol).as("id"), col(textCol).as("text"))
      .withColumn("fp", fingerprint(col("text")))
      .withColumn("n_copies", count(lit(1)).over(w))
      .withColumn("graft_keep_", col("id") === min(col("id")).over(w))
      .filter(col("graft_keep_"))
      .select(col("fp"), col("id"), col("text"), col("n_copies"))
  }

  /** The materialized keeper STATE for delta near-dup pairing:
    * (fp, id, text, n_copies) — what a daily-crawl pipeline persists so
    * the next batch pairs against signatures instead of re-shingling
    * the whole corpus. [[mergeFingerprintRepState]] folds a batch in;
    * [[minhashPairsDelta]] consumes it. */
  def fingerprintRepState(df: DataFrame, textCol: String,
                          idCol: String): DataFrame =
    fingerprintReps(df, textCol, idCol)

  /** Fold an appended batch into the keeper state — KEEPER-STABLE
    * (ADVICE r7): a fingerprint already in the state KEEPS its existing
    * keeper id and text; the batch only adds copy counts. New
    * fingerprints enter with their batch keeper (min batch id). This is
    * what keeps every relation DERIVED from the state valid across
    * folds — stored pair rows, band/signature tables, downstream
    * weights all reference keeper ids, and a merge that re-keyed a
    * keeper (the previous min-id rule, when a LATER batch carries a
    * SMALLER id for a known fp) would silently orphan them.
    *
    * Equality contract: under append-ordered ids (batch ids above all
    * state ids — the crawl shape every spec pins) first-seen == min id,
    * so the merged state equals a from-scratch [[fingerprintRepState]]
    * rebuild exactly. Under out-of-order arrivals the keeper is the
    * FIRST-SEEN id instead of the global min: same fingerprint groups,
    * same counts, keeper naming may differ from a rebuild — and no
    * derived pair is ever dropped. One fp-keyed exchange over |state| +
    * |batch keepers| rows. */
  def mergeFingerprintRepState(state: DataFrame, newDocs: DataFrame,
                               textCol: String, idCol: String): DataFrame = {
    val st = state.select(col("fp"), col("id"), col("text"), col("n_copies"))
    val batchReps = fingerprintReps(newDocs, textCol, idCol)
    st.as("s").join(batchReps.as("b"), Seq("fp"), "full_outer")
      .select(col("fp"),
        coalesce(col("s.id"), col("b.id")).as("id"),
        coalesce(col("s.text"), col("b.text")).as("text"),
        (coalesce(col("s.n_copies"), lit(0L)) +
          coalesce(col("b.n_copies"), lit(0L))).as("n_copies"))
  }

  /** DELTA MinHash pairing: near-dup pairs CONTRIBUTED BY an appended
    * batch, against the materialized keeper state — the daily-crawl
    * shape (d12's spanDedupDelta for whole-doc near-dups). New pairs
    * can only involve a NEW fingerprint: a batch doc whose fp already
    * exists is an exact copy of a known keeper — identical shingles,
    * identical bands — so it can never create a candidate its keeper
    * didn't, it only raises copy counts (the state merge carries
    * those; existing pairs' weights are then re-derived from the
    * merged counts, which the spec pins as exactly the full-rebuild
    * relation). The merge is KEEPER-STABLE (see
    * [[mergeFingerprintRepState]]), so previously produced pairs always
    * reference ids still present in the merged state — even when a
    * later batch carries a smaller id for a known fingerprint (ADVICE
    * r7). Candidate generation joins the batch's new-fp bands
    * against batch+state bands — the old×old quadrant is never
    * re-paired. This convenience form re-derives the state's bands
    * from stored text each call; the SCALE form is
    * [[minhashPairsDeltaBanded]], which reads them from materialized
    * companion tables (bucketed by band at warehouse scale) so
    * per-batch cost is independent of state size.
    *
    * Output: (id1, id2, jaccard, weight) for pairs with >= 1 new-fp
    * side, weights from the MERGED copy counts. */
  def minhashPairsDelta(newDocs: DataFrame, state: DataFrame,
                        textCol: String, idCol: String,
                        threshold: Double = 0.5): DataFrame = {
    val (baseOld, bandedOld) = deltaBanding(state)
    deltaPairsOn(newDocs, state, baseOld, bandedOld, textCol, idCol,
      threshold).pairs
  }

  /** The delta family's one banding, [[minhashPairs]]' defaults:
    * 3-word shingles, 16 minhashes in 4 bands, over (id, text) rows. */
  private def deltaBanding(reps: DataFrame): (DataFrame, DataFrame) =
    bandedRelations(reps, "text", "id", n = 3, k = 16, bands = 4)

  /** Result of the BANDED delta pairing: the contributed pairs plus the
    * new fingerprints' (id, sh) / (id, band) relations — exactly the
    * rows to APPEND to the materialized companion tables (the merge is
    * keeper-stable, so existing companion rows never change). */
  final case class DeltaBanded(pairs: DataFrame,
                               newBase: DataFrame, newBands: DataFrame)

  /** Materialize the band/signature companion of a keeper state:
    * (base (id, sh), bands (id, band)) — what a warehouse pipeline
    * persists NEXT TO the (fp, id, text, n_copies) state so delta
    * batches never re-shingle old text (VERDICT r7 next-#3). At scale:
    * `bands` is written bucketed/partitioned BY band (the candNO join
    * prunes to the batch's buckets), `base` bucketed BY id (the verify
    * join fetches only matched candidates' shingle sets). */
  def minhashBandState(state: DataFrame): (DataFrame, DataFrame) =
    deltaBanding(state)

  /** Delta MinHash pairing against MATERIALIZED signature state: same
    * semantics as [[minhashPairsDelta]] (spec-pinned identical), but
    * the state side's shingles and bands come from the persisted
    * companion tables instead of being re-derived from stored text —
    * per-batch cost is bounded by the batch plus its matching state
    * rows, independent of total state size. Returns the new
    * fingerprints' base/band rows for the caller to append, closing
    * the loop for the next batch. */
  def minhashPairsDeltaBanded(newDocs: DataFrame, state: DataFrame,
                              stateBase: DataFrame, stateBands: DataFrame,
                              textCol: String, idCol: String,
                              threshold: Double = 0.5): DeltaBanded =
    deltaPairsOn(newDocs, state, stateBase, stateBands, textCol, idCol,
      threshold)

  private def deltaPairsOn(newDocs: DataFrame, state: DataFrame,
                           baseOld: DataFrame, bandedOld: DataFrame,
                           textCol: String, idCol: String,
                           threshold: Double): DeltaBanded = {
    val batchReps = fingerprintReps(newDocs, textCol, idCol)
      .localCheckpoint(false) // feeds the anti-join and the count join
    val newReps = batchReps
      .join(state.select(col("fp")), Seq("fp"), "left_anti")
      .localCheckpoint(false) // feeds bands and base
    val (baseNew, bandedNew) = deltaBanding(newReps)
    // At-least-once REPLAY guard (ADVICE r8): a crash between the
    // companion-table merges and the state swap leaves this batch's
    // rows already absorbed into `baseOld`/`bandedOld`. A replayed
    // batch re-derives the same new ids, so without exclusion it would
    // (a) pair against itself through the old side and (b) feed
    // duplicate (id, sh) rows into jaccardVerify, whose id1/id2 joins
    // then fan every contributed pair out — duplicate pair ROWS that a
    // keyed merge stores permanently. Anti-joining the old relations
    // against the batch's new ids restores the clean-run relations
    // exactly, making the replay byte-identical (row counts included —
    // MinhashDeltaSpec pins counts, not just the pair set). In a clean
    // run the anti-join removes nothing; the batch-id side is small and
    // broadcastable, so the exclusion is map-only at state scale.
    val newIds = newReps.select(col("id"))
    val baseOldX = baseOld.join(newIds, Seq("id"), "left_anti")
    val bandedOldX = bandedOld.join(newIds, Seq("id"), "left_anti")
    val ln = bandedNew.select(col("id").as("ida"), col("band"))
    val candNN = ln.join(bandedNew.select(col("id").as("idb"), col("band")),
        Seq("band"))
      .filter(col("ida") < col("idb"))
      .select(col("ida").as("id1"), col("idb").as("id2"))
    val candNO = ln.join(bandedOldX.select(col("id").as("idb"), col("band")),
        Seq("band"))
      // ida == idb is impossible after the exclusion above; the guard
      // stays as defense in depth (a self-pair here would enter the
      // stored relation at jaccard 1.0)
      .filter(col("ida") =!= col("idb"))
      .select(least(col("ida"), col("idb")).as("id1"),
        greatest(col("ida"), col("idb")).as("id2"))
    val cand = candNN.union(candNO).distinct()
    // merged copy counts WITHOUT the state-wide merge window: the
    // keeper-stable fold means a state keeper's merged count is
    // state.n_copies + its fp's batch copies, and a new keeper carries
    // its batch count — one keyed left join with the (small) batch
    // side broadcastable, no state∪batch exchange. Equals
    // [[mergeFingerprintRepState]]'s counts for every keeper id by
    // construction (MinhashDeltaSpec pins the composed relation).
    val counts = state
      .select(col("fp"), col("id"), col("n_copies"))
      .join(batchReps.select(col("fp"), col("n_copies").as("graft_bn_")),
        Seq("fp"), "left")
      .select(col("id"),
        (col("n_copies") + coalesce(col("graft_bn_"), lit(0L))).as("n_copies"))
      .unionByName(newReps.select(col("id"), col("n_copies")))
    val w1 = counts.select(col("id").as("id1"), col("n_copies").as("nc1"))
    val w2 = counts.select(col("id").as("id2"), col("n_copies").as("nc2"))
    val pairs = jaccardVerify(cand, baseNew.unionByName(baseOldX), threshold)
      .join(w1, Seq("id1")).join(w2, Seq("id2"))
      .select(col("id1"), col("id2"), col("jaccard"),
        (col("nc1") * col("nc2")).as("weight"))
    DeltaBanded(pairs, baseNew, bandedNew)
  }

  /** Fingerprint-group membership for expanding keeper-level results
    * back to the full corpus: (id, keeper, n_copies, has_sh) where
    * has_sh marks texts that yield >= 1 shingle at width `n` (docs
    * below that width never enter the pair pipeline, so their exact
    * copies must not fabricate a group either). Same single fp-keyed
    * window as [[fingerprintReps]]. */
  def fingerprintMembership(df: DataFrame, textCol: String, idCol: String,
                            n: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("graft_fp_"))
    df.select(col(idCol).as("id"), col(textCol).as("text"))
      .withColumn("graft_fp_", fingerprint(col("text")))
      .withColumn("keeper", min(col("id")).over(w))
      .withColumn("n_copies", count(lit(1)).over(w))
      .select(col("id"), col("keeper"), col("n_copies"),
        (size(wordShingles(col("text"), n)) > 0).as("has_sh"))
  }

  /** Expand keeper-level connected components back to every document:
    * a doc joins its keeper's component; exact-copy groups whose keeper
    * is in no near-dup component still form their own group (they are
    * pairwise jaccard-1 — connected by definition) provided the text
    * shingles at all. Component minimums are preserved: a keeper is the
    * min id of its fingerprint group, so the min over keepers IS the
    * min over all member docs. The rep-level pair graph reaches exactly
    * the components the all-docs graph would: an exact copy's edges are
    * its keeper's edges (identical shingle sets), so dropping copy
    * edges never disconnects anything.
    *
    * Inputs: `repGroups` = [[connectedComponents]] over keeper pairs
    * (id, group_id); `membership` = [[fingerprintMembership]].
    * Output: (doc_id, group_id) over the full corpus. */
  def expandGroups(repGroups: DataFrame, membership: DataFrame): DataFrame =
    membership.join(
        repGroups.select(col("id").as("keeper"), col("group_id")),
        Seq("keeper"), "left")
      .filter(col("group_id").isNotNull ||
        (col("n_copies") >= 2 && col("has_sh")))
      .select(col("id").as("doc_id"),
        coalesce(col("group_id"), col("keeper")).as("group_id"))

  /** The banded-minhash intermediate relations: (id, sh) shingle base
    * and (id, band) band keys. Package-visible so [[graft.tools
    * .ScaleProbe]] measures the EXACT bucket layout the dedup operators
    * use (an inline re-derivation would silently drift if seeds, k, or
    * the band-key format changed).
    *
    * Both intermediates feed multiple plan subtrees (bands join both
    * sides of the bucket self-join; base joins back for both verify
    * sides), so they are cut with LAZY localCheckpoints — computed
    * once, and unlike persist() NOT pinned in the CacheManager for the
    * session lifetime: the ContextCleaner frees the blocks when the
    * consuming plan is unreferenced (ADVICE r6 contract; the streaming
    * delta path calls this every micro-batch, where session-pinned
    * cache entries would accumulate until LRU pressure).
    *
    * TRADE-OFF (ADVICE r7): localCheckpoint blocks have NO lineage —
    * on a multi-node cluster, losing an executor after materialization
    * fails the consuming job instead of recomputing the shingle/
    * signature relations (persist() would recompute; this swap trades
    * that resilience for bounded memory). Acceptable here because the
    * relations are cheap to re-run at job granularity; at warehouse
    * scale these cut-points are MATERIALIZED signature tables (see
    * [[minhashBandState]]), which are both reliable and reusable. */
  private[graft] def bandedRelations(df: DataFrame, textCol: String,
                                     idCol: String, n: Int, k: Int,
                                     bands: Int): (DataFrame, DataFrame) = {
    val r = k / bands
    require(r >= 2, s"bands of r=1 degrade to single-min-shingle buckets " +
      s"(corpus-common shingles collect quadratic buckets); got k=$k bands=$bands")
    // hash-partition by id up front: parallelizes the CPU-dense shingle
    // and md5 stages even when the source is a single parquet split.
    val base = df.repartition(col(idCol)).select(
      col(idCol).as("id"),
      wordShingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .localCheckpoint(false)
    // k-min signature in ONE compiled call per doc (MinHashSigExpr):
    // map-only, no explode/aggregate shuffle of shingle rows (round-1
    // formulation; see PLANS.md). Same md5-seeded semantics.
    val sigs = base.select(col("id"),
      graft.expressions.HashExpressions.minhashSignature(col("sh"), k).as("sig"))
    // band key format "<b>:<m0>,<m1>,..." — the contract the d02/d04/d08
    // DuckDB oracles replay (banded CTE in DataQueries)
    val bandCols = (0 until bands).map(b =>
      concat(lit(s"$b:"), concat_ws(",",
        (b * r until (b + 1) * r).map(i =>
          element_at(col("sig"), i + 1).cast(StringType)): _*)))
    val banded = sigs.select(col("id"), explode(array(bandCols: _*)).as("band"))
      .localCheckpoint(false)
    (base, banded)
  }

  /** MinHash-LSH near-duplicate pairs with exact jaccard verification
    * (k=16 hashes in 4 bands of 4 — the precision-leaning recall point),
    * over distinct fingerprints (exact-dedup-first). Returns keeper
    * pairs (id1, id2, jaccard, weight = copy-count product).
    * Deterministic, order by caller.
    */
  def minhashPairs(df: DataFrame, textCol: String, idCol: String,
                   n: Int = 3, k: Int = 16, bands: Int = 4,
                   threshold: Double = 0.5): DataFrame =
    bandedJaccardPairs(df, textCol, idCol, n, k, bands, threshold)

  /** Pick the LSH banding (bands b × rows r = k) for a target Jaccard
    * threshold — the standard S-curve tuning (Leskovec-Rajaraman-Ullman
    * ch.3): a pair with similarity s collides with probability
    * 1-(1-s^r)^b, whose inflection sits at t ≈ (1/b)^(1/r). Choose the
    * divisor pair whose inflection lands nearest the target; ties
    * break toward MORE bands (recall over precision — the verify step
    * kills false positives anyway, while a missed candidate is gone).
    * Driver-side pure arithmetic — the minhash twin of
    * [[chooseEditJoinQ]]'s measured escalation, except here the
    * collision curve is analytic so no data pass is needed. */
  def chooseBanding(k: Int, threshold: Double): (Int, Int) = {
    require(k >= 1 && threshold > 0 && threshold < 1,
      s"need k>=1, threshold in (0,1); got $k/$threshold")
    val cands = (1 to k).filter(k % _ == 0).map { b =>
      val r = k / b
      (b, r, math.pow(1.0 / b, 1.0 / r))
    }
    val best = cands.minBy { case (b, _, t) =>
      (math.abs(t - threshold), -b)
    }
    (best._1, best._2)
  }

  /** [[minhashPairs]] with the banding chosen by [[chooseBanding]] from
    * the verification threshold itself — candidates are generated at
    * the S-curve point matching what the exact-jaccard verify keeps.
    * Declared by SURVEY "Beyond `queries` (round 11)", LSH banding
    * auto-tuning. */
  def minhashPairsAuto(df: DataFrame, textCol: String, idCol: String,
                       n: Int = 3, k: Int = 16,
                       threshold: Double = 0.5): DataFrame = {
    val (b, _) = chooseBanding(k, threshold)
    bandedJaccardPairs(df, textCol, idCol, n, k, b, threshold)
  }

  /** LSH BANDING SWEEP — [[chooseBanding]] picks (b, r) from the
    * ANALYTIC S-curve; this MEASURES the choice on the corpus (e24's
    * "measure, don't guess" applied to dedup tuning — the decision a
    * 100 TB near-dup run makes before burning the cluster): for each
    * bands value b (r = k/b), the candidate-pair volume the banding
    * generates next to its recall and precision against the EXACT
    * Jaccard-threshold ground truth, every column an exact integer
    * (counts; ppm by integer division).
    *
    * Efficiency contract (the e24 sweep shape): ONE pass computes each
    * keeper doc's hashed shingle set AND its k-perm signature
    * (compiled expressions, map-only); the exact truth is ONE
    * co-occurrence self-join (a pair above any τ > 0 shares a shingle,
    * so the join is lossless for truth); each banding then re-slices
    * the SAME signature relation and self-joins only (id, band) —
    * nothing re-shingles, nothing re-hashes, and the per-config cost
    * is the bucket join its candidate volume implies. Exact-dedup
    * -first: all of it runs over distinct-fingerprint keepers, so
    * exact copies never inflate the candidate counts ([[minhashPairs]]
    * contract). The Jaccard gate is pure integer:
    * (tauDen+tauNum)·o >= tauNum·(n1+n2) over DISTINCT hashed
    * shingles (a 60-bit collision merges identically in the oracle).
    *
    * The exact-truth join is the measurement's inherent cost — Σdf²
    * co-occurrences, minutes on a saturated shingle space (probed:
    * 272 s at 16× width-3). A 100 TB deployment therefore sweeps a
    * DETERMINISTIC SAMPLE of keepers (`samplePpm` — the d19/t15 md5
    * sample contract, no RNG state): the banding DECISION needs
    * recall/precision ppm estimates, not the full corpus, and a
    * constant-size sample holds the decision cost flat at any corpus
    * size (probed below). Both the truth and the candidates are
    * computed over the SAME sample, so the ppm columns remain an
    * unbiased within-sample measurement.
    *
    * Output: (n_bands, n_rows, n_candidates, n_true, n_hits,
    * recall_ppm, precision_ppm), one row per bands value. r = 1
    * bandings are refused ([[bandedRelations]]' rationale: single-min
    * buckets go quadratic on corpus-common shingles). */
  def lshBandingSweep(df: DataFrame, textCol: String, idCol: String,
                      n: Int, k: Int, bandsList: Seq[Int],
                      tauNum: Int, tauDen: Int,
                      samplePpm: Long = 1000000L): DataFrame = {
    require(bandsList.nonEmpty && bandsList.distinct.size == bandsList.size,
      s"bad bands list $bandsList")
    bandsList.foreach { b =>
      require(b >= 1 && k % b == 0 && k / b >= 2,
        s"bands=$b must divide k=$k with r=k/b >= 2")
    }
    require(tauNum >= 1 && tauNum <= tauDen, s"bad tau $tauNum/$tauDen")
    require(samplePpm >= 1 && samplePpm <= 1000000L,
      s"samplePpm must be in [1, 1e6], got $samplePpm")
    val spark = df.sparkSession
    // no checkpoint on reps: `base` (itself cut) is its only consumer
    val reps0 = fingerprintReps(df, textCol, idCol)
    val reps = if (samplePpm >= 1000000L) reps0
      else reps0.filter(pmod(md5Long(col("id").cast(StringType)),
        lit(1000000L)) < lit(samplePpm))
    val base = reps.repartition(col("id")).select(col("id"),
        wordShingles(col("text"), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"),
        graft.expressions.HashExpressions.md5Set(col("sh")).as("shs"),
        graft.expressions.HashExpressions.minhashSignature(col("sh"), k)
          .as("sig"))
      .withColumn("nsh", size(col("shs")).cast(LongType))
      .localCheckpoint(false)
    val ex = base.select(col("id"), explode(col("shs")).as("h"), col("nsh"))
    val truth = ex.select(col("h"), col("id").as("id1"), col("nsh").as("n1"))
      .join(ex.select(col("h"), col("id").as("id2"), col("nsh").as("n2")),
        Seq("h"))
      .filter(col("id1") < col("id2"))
      .groupBy("id1", "id2", "n1", "n2").agg(count(lit(1)).as("o"))
      .filter(lit((tauDen + tauNum).toLong) * col("o") >=
        lit(tauNum.toLong) * (col("n1") + col("n2")))
      .select("id1", "id2")
      .localCheckpoint(false)
    val nTrue = truth.count()
    // r18: every banding configuration rides ONE tagged self-join, one
    // dedup, and one counting aggregate — the per-config loop ran
    // |bands| self-joins (two band-keyed exchanges each), |bands|
    // distincts, |bands| checkpoints, and 2·|bands| count jobs over the
    // same signature relation. Keying the join by (config, band) keeps
    // each config's candidate set EXACTLY what its standalone join
    // produced (configs cannot meet across the key), and the hit flag
    // comes from one left join against the truth pairs. Guide §1/2.4:
    // fewer passes, fewer exchanges, identical integers.
    val cfg = bandsList.sorted.map(b => (b, k / b))
    val bandedAll = cfg.map { case (b, r) =>
      val bandCols = (0 until b).map(bi =>
        concat(lit(s"$bi:"), concat_ws(",",
          (bi * r until (bi + 1) * r).map(i =>
            element_at(col("sig"), i + 1).cast(StringType)): _*)))
      base.select(lit(b.toLong).as("nb"), col("id"),
        explode(array(bandCols: _*)).as("band"))
    }.reduce(_ unionByName _)
    val cand = bandedAll.select(col("nb"), col("band"), col("id").as("id1"))
      .join(bandedAll.select(col("nb"), col("band"), col("id").as("id2")),
        Seq("nb", "band"))
      .filter(col("id1") < col("id2"))
      .select("nb", "id1", "id2").distinct()
    val counts = cand
      .join(truth.withColumn("__t", lit(1L)), Seq("id1", "id2"),
        "left_outer")
      .groupBy("nb")
      .agg(count(lit(1)).as("nc"), coalesce(sum("__t"), lit(0L)).as("nh"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val sweep = bandsList.sorted.map { b =>
      val (nCand, nHits) = counts.getOrElse(b.toLong, (0L, 0L))
      (b.toLong, (k / b).toLong, nCand, nTrue, nHits,
        1000000L * nHits / math.max(1L, nTrue),
        1000000L * nHits / math.max(1L, nCand))
    }
    import spark.implicits._
    sweep.toDF("n_bands", "n_rows", "n_candidates", "n_true", "n_hits",
      "recall_ppm", "precision_ppm")
  }

  // -------------------------------------------------------------------
  // SimHash
  // -------------------------------------------------------------------

  /** 48-bit simhash over whitespace tokens (48 keeps every intermediate
    * comfortably inside a signed 64-bit long under ANSI arithmetic).
    * bit i of md5Long(token) votes +1/-1; majority sign sets bit i.
    * Input: (id, text); output: (id, simhash long).
    */
  def simhash(df: DataFrame, textCol: String, idCol: String,
              bits: Int = 48): DataFrame =
    // One compiled call per document (SimHashExpr: lowercase + tokenize
    // + md5 + bit votes in a tight loop) — map-only, zero shuffles. The
    // round-1 explode formulation moved tokens×bits rows through TWO
    // aggregate shuffles and was the single most expensive bench query
    // (d07). Identical results, pinned by the unchanged DuckDB oracle:
    // repeated tokens vote repeatedly, and token-less docs are DROPPED
    // (SimHashExpr yields null) exactly as explode produced no rows —
    // keeping empty docs from all pairing at hamming 0 in simhashPairs.
    df.select(col(idCol).as("id"),
      graft.expressions.HashExpressions.simhash(col(textCol), bits)
        .as("simhash"))
      .filter(col("simhash").isNotNull)

  /** SimHash near-dup pairs: candidates share one of `chunks` equal bit
    * chunks (Hamming pigeonhole: distance < chunks implies >= 1 equal
    * chunk), verified by exact popcount of xor <= maxHamming. */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   bits: Int = 48, chunks: Int = 4,
                   maxHamming: Int = 3): DataFrame =
    hammingPairs(simhash(df, textCol, idCol, bits)
      .withColumnRenamed("simhash", "sig"), bits, chunks, maxHamming)

  /** Hamming-pigeonhole near-dup pairs over ANY (id, sig) long-signature
    * relation — the banding/verify half of [[simhashPairs]], shared with
    * the media perceptual-hash dedup
    * ([[graft.multimodal.Multimodal.phashNearDup]]): candidates share
    * one of `chunks` equal bit chunks (distance < chunks implies >= 1
    * equal chunk — lossless for maxHamming < chunks), verified by exact
    * popcount of xor. One chunk-keyed self-join; pairwise work confined
    * to chunk buckets — the LSH bucket contract. */
  def hammingPairs(sigs: DataFrame, bits: Int, chunks: Int,
                   maxHamming: Int): DataFrame = {
    // the pigeonhole is lossless ONLY under these bounds — a caller
    // passing e.g. chunks=3 with maxHamming=3 would silently drop true
    // near-dup pairs (ADVICE r11)
    require(chunks >= 1 && bits >= 1 && bits <= 63 && bits % chunks == 0,
      s"bits=$bits must be a positive multiple of chunks=$chunks (bits <= 63)")
    require(maxHamming >= 0 && maxHamming < chunks,
      s"maxHamming=$maxHamming must be < chunks=$chunks for the " +
        "pigeonhole banding to be lossless")
    val w = bits / chunks
    val chunkCols = (0 until chunks).map(c =>
      concat(lit(s"$c:"),
        shiftright(col("sig"), w * c).bitwiseAND((1L << w) - 1)
          .cast(StringType)))
    val banded = sigs.withColumn("chunk", explode(array(chunkCols: _*)))
    val l = banded.select(col("id").as("id1"), col("sig").as("h1"), col("chunk"))
    val r = banded.select(col("id").as("id2"), col("sig").as("h2"), col("chunk"))
    l.join(r, Seq("chunk"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2", "h1", "h2").distinct()
      .withColumn("hamming", bit_count(col("h1").bitwiseXOR(col("h2"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id1"), col("id2"), col("hamming").cast(LongType).as("hamming"))
  }

  // -------------------------------------------------------------------
  // N-gram Jaccard (direct, bucketed)
  // -------------------------------------------------------------------

  /** N-gram Jaccard similarity pairs: the high-RECALL banding point of
    * the shared [[bandedJaccardPairs]] pipeline (k=8 minhashes in 4
    * bands of r=2; a pair collides when it agrees on any 2-hash band —
    * far looser than [[minhashPairs]]' 4-hash bands), verified by exact
    * jaccard.
    *
    * The round-2 formulation bucketed on the single global-min shingle
    * hash ([[graft.expressions.Md5MinExpr]]): one corpus-common shingle
    * (boilerplate header, license text) collected a huge bucket whose
    * within-bucket self-join went quadratic — VERDICT r2 flagged it as
    * the skew scale-killer. r=2 bands require agreement on two
    * independent min-hashes, so a single common shingle no longer
    * creates a mega-bucket, while per-band recall stays well above a
    * 4-hash band's. Bucket-size distribution is probed in
    * [[graft.tools.ScaleProbe]]. Like [[minhashPairs]], pairs are over
    * distinct fingerprints with copy-count weights. */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        n: Int = 3, threshold: Double = 0.3,
                        k: Int = 8, bands: Int = 4): DataFrame =
    bandedJaccardPairs(df, textCol, idCol, n, k, bands, threshold)

  // -------------------------------------------------------------------
  // Transitive near-dup groups (connected components)
  // -------------------------------------------------------------------

  /** Connected components over a candidate-pair relation — the step
    * that turns pairwise near-dup hits into dedup GROUPS (keep one doc
    * per component, drop the rest). Input: (id1, id2) pairs; output:
    * (id, group_id) for every id that appears in a pair, where group_id
    * is the component's minimum id.
    *
    * Algorithm: min-label propagation with POINTER DOUBLING: each round
    * a node adopts the min label among (a) itself, (b) its neighbors'
    * labels, and (c) its label's label (shortcutting — the label value
    * is always a real node id, so chasing it one hop halves the
    * remaining chain). Rounds needed: O(log diameter) instead of the
    * plain formulation's O(diameter), so `maxIter`=30 comfortably
    * covers even a pathological million-node chain; near-dup
    * components are usually diameter <= 2 and converge in 2-3 rounds.
    * Each round is two joins + one aggregate — fully distributed;
    * localCheckpoint() cuts the growing lineage so round N doesn't
    * replay rounds 1..N-1. Non-convergence still fails loudly.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    // the label-sum fixpoint below casts ids to DECIMAL(38,0); a
    // non-integral id column (e.g. string) would cast to NULL, the sum
    // would coalesce to 0 every round, and the loop would declare
    // convergence after one iteration — silently wrong groups. Fail
    // fast instead: ids must be integral (the documented contract).
    Seq("id1", "id2").foreach { c =>
      val dt = pairs.schema(c).dataType
      require(dt == ByteType || dt == ShortType ||
          dt == IntegerType || dt == LongType,
        s"connectedComponents requires integral id columns; '$c' is $dt")
    }
    val edges = pairs.select(col("id1").as("a"), col("id2").as("b"))
      .union(pairs.select(col("id2").as("a"), col("id1").as("b")))
      .distinct()
      .persist()
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("lab", col("id"))
      .localCheckpoint()
    // coalesce: sum over an EMPTY label relation (no pairs at all) is
    // null — treat as 0 so the loop converges immediately. Decimal(38,0)
    // sum: ids are caller-supplied 64-bit values (the engine's own
    // md5-derived 60-bit ids among them) — a LongType sum overflows at
    // exactly the at-scale inputs this operator targets (ANSI throw, or
    // with ANSI off an improbable-but-possible wrapped false fixpoint).
    def labSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("lab").cast(DecimalType(38, 0))),
        lit(0).cast(DecimalType(38, 0)))).head.getDecimal(0)
    var prevSum = labSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbr = edges.join(labels, edges("b") === labels("id"))
        .select(edges("a").as("id"), col("lab"))
      // pointer doubling: lab(lab(id)) — labels are node ids (min over
      // node ids stays a node id), so every label has a labels entry
      val ptr = labels.as("x").join(labels.as("y"),
          col("x.lab") === col("y.id"))
        .select(col("x.id").as("id"), col("y.lab").as("lab"))
      val next = labels.union(nbr).union(ptr)
        .groupBy("id").agg(min("lab").as("lab"))
        .localCheckpoint()
      // fixpoint test: labels only ever decrease (min over self +
      // neighbors), so an unchanged label SUM means no label moved —
      // one scalar aggregate per round instead of a join + isEmpty.
      val nextSum = labSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next
      iter += 1
    }
    edges.unpersist()
    // a silently truncated closure would return WRONG group labels —
    // fail loudly instead (a diameter-20+ component means the pair
    // generator produced a pathological chain worth investigating)
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds " +
        s"(supports component diameter <= ${maxIter - 1}) — " +
        "raise maxIter or inspect the pair input for pathological chains")
    System.err.println(s"[graft] connectedComponents converged in $iter rounds")
    labels.select(col("id"), col("lab").as("group_id"))
  }

  /** DELTA connected components: fold newly discovered pairs into an
    * existing (id, group_id) labeling WITHOUT re-running the closure
    * over all historical pairs — the d08 member of the delta family
    * (minhashPairsDelta produces the new pairs; this folds them into
    * the transitive groups). The previous labeling is a spanning
    * CONTRACTION of the old pair graph (every member points at its
    * component's min id, which is itself a node), so running the
    * closure over (label edges ∪ new pairs) reaches exactly the
    * components of (all old pairs ∪ new pairs) — |state| + |batch|
    * edges instead of the full history, with NO append-order
    * assumption (min ids propagate globally either way; spec-pinned
    * == full rebuild). O(log diameter) rounds as the base operator.
    * Declared by SURVEY "Beyond `queries` (round 8)", DELTA connected
    * components. */
  def connectedComponentsDelta(labels: DataFrame,
                               newPairs: DataFrame): DataFrame = {
    val labelEdges = labels
      .filter(col("id") =!= col("group_id")) // keepers re-enter as mates' id2
      .select(col("id").as("id1"), col("group_id").as("id2"))
    connectedComponents(
      labelEdges.unionByName(newPairs.select(col("id1"), col("id2"))))
  }

  // -------------------------------------------------------------------
  // Embedding near-dup
  // -------------------------------------------------------------------

  /** Embedding-cosine near-duplicate pairs above `threshold`.
    * Plain self-join: at 100 TB this must be preceded by LSH bucketing
    * ([[Similarity.lshBuckets]]) — `bucketed=true` applies a
    * random-hyperplane prefilter so only same-sketch pairs are compared.
    */
  def embeddingNearDupPairs(df: DataFrame, vecCol: String, idCol: String,
                            threshold: Double,
                            bucketed: Boolean = false): DataFrame = {
    val withB =
      if (bucketed)
        // the SAME bucket pipeline as the e03 scale path — routed
        // through Similarity.lshBuckets so the key format / bit count /
        // degenerate-vector contract can never drift between the two
        Similarity.lshBuckets(df, vecCol, idCol, nBits = 8, dim = 64)
          .withColumnRenamed("bucket", "b")
      else df.select(col(idCol).as("id"), toDoubleArray(col(vecCol)).as("v"))
        .filter(Similarity.nonDegenerate(col("v")))
        .withColumn("b", lit("all"))
    val l = withB.select(col("id").as("id1"), col("v").as("v1"), col("b"))
    val r = withB.select(col("id").as("id2"), col("v").as("v2"), col("b"))
    l.join(r, Seq("b"))
      .filter(col("id1") < col("id2"))
      .withColumn("cosine", VectorExpressions.cosine(col("v1"), col("v2")))
      .filter(col("cosine") >= threshold)
      .select(col("id1"), col("id2"), round(col("cosine"), 6).as("cosine"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): assign every embedding to its nearest coarse
    * centroid of `codebook` ([[Similarity.cellAssignments]], cells
    * 0..k-1: the paper's clusters are a k-means fit, a [[KMeans.Model]];
    * named corpus rows resolve through [[Similarity.codebookOf]]), then
    * compare pairs only WITHIN a cluster and
    * drop any vector whose cosine to a lower-id cluster-mate reaches
    * `threshold`. The keeper reported for a dropped vector is its
    * LOWEST-id over-threshold neighbor (greedy keep-first — the same
    * deterministic keep rule as d01/d12), so the decision is stable on
    * any engine or partitioning.
    *
    * Output: (drop_id, keeper_id, cell, cosine-to-keeper).
    *
    * Scale shape: cell assignment is one linear broadcast-centroid pass;
    * the pairwise stage is confined to cluster buckets — O(Σ cell²), the
    * published SemDeDup contract where k (number of clusters) is sized
    * to keep cells small (50k clusters at 100 TB). The keeper-selection
    * exchange is keyed by drop_id and carries only over-threshold pairs
    * — bounded by the corpus's near-duplicate volume, not its size.
    */
  def semanticDedup(df: DataFrame, vecCol: String, idCol: String,
                    codebook: Seq[Seq[Double]],
                    threshold: Double): DataFrame = {
    val assigned = Similarity.cellAssignments(df, vecCol, idCol, codebook)
    val l = assigned.select(col("cell"), col("id").as("id1"), col("v").as("v1"))
    val r = assigned.select(col("cell"), col("id").as("id2"), col("v").as("v2"))
    val pairs = l.join(r, Seq("cell"))
      .filter(col("id1") < col("id2"))
      // threshold on the ROUNDED cosine: a raw-double boundary compare
      // could ULP-diverge between engines for pairs landing exactly on
      // the threshold; the oracle mirrors round(...,6) >= t
      .withColumn("cos_r", round(VectorExpressions.cosine(col("v1"), col("v2")), 6))
      .filter(col("cos_r") >= threshold)
    pairs
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("id2").orderBy(col("id1"))))
      .filter(col("rn") === 1)
      .select(col("id2").as("drop_id"), col("id1").as("keeper_id"),
        col("cell"), col("cos_r").as("cosine"))
  }

  // -------------------------------------------------------------------
  // Edit-distance similarity join (record linkage)
  // -------------------------------------------------------------------

  /** All pairs (id1 < id2) whose strings are within `maxDist` Levenshtein
    * edits — the string-similarity (record-linkage / entity-resolution)
    * join, with LOSSLESS q-gram prefix blocking in the style of Ed-Join
    * (Xiao, Wang, Lin, PVLDB 2008): never a quadratic all-pairs pass.
    *
    * Blocking argument (set form, robust to repeated grams): a string's
    * blocking key set A is its DISTINCT character q-grams. One edit
    * rewrites at most q positional grams, so k edits can remove at most
    * k·q VALUES from A entirely; hence for ed(s,t) <= k, |A\B| <= k·q and
    * |B\A| <= k·q. Order all grams by (global frequency asc, gram asc) —
    * rare first — and keep each string's first p = k·q+1 grams (its
    * "prefix"). If the prefixes shared no gram, the smallest element g of
    * A∩B (nonempty when |A| > k·q) would need k·q+1 smaller A\B elements
    * AND k·q+1 smaller B\A elements before it — more than k edits can
    * produce. So candidates = pairs sharing a PREFIX gram: pairwise work
    * is confined to rare-gram buckets (frequency-ascending order keeps
    * "Customer#"-style stop-grams out of prefixes), then the exact
    * Levenshtein (threshold form — abandons a row's DP early once the
    * band exceeds maxDist) verifies candidates only.
    *
    * Short strings (all of whose grams k edits can rewrite, so the gram
    * bucket can miss them) are routed to a separate exact block over the
    * border population len < (k+1)·q + k, keeping pairs with at least
    * one truly-short side — bounded by the short-string volume, a
    * documented contract (the corpus keys this operator targets are
    * fixed-format identifiers well above (k+1)·q chars).
    *
    * Scale shape: gram explode is map-only (~len grams/row); the global
    * frequency relation is one groupBy shuffle keyed by gram; prefix
    * selection one id-keyed window; the self-join shuffles only
    * string-carrying prefix rows — k·q+1 per string regardless of
    * length — and verification runs MAP-SIDE on the join output, so the
    * bucket-pair stream is filtered where it is produced and never
    * exchanged (near-identical-but-beyond-k populations cost a cheap
    * banded DP per bucket pair, not candidate-sized shuffles). Only the
    * post-verify TRUE-MATCH relation is exchanged (final dedup) —
    * output-volume-bounded, the same contract as the LSH families.
    *
    * Tuning: q sizes the gram space. On a low-entropy alphabet (dense
    * numeric keys: ≤1000 digit trigrams EXIST) q=3 buckets grow
    * ~corpus/1000 and candidate volume saturates quadratically however
    * rare-first the ordering is — pick q so corpus / |alphabet|^q stays
    * bounded (ScaleProbe edit_join_distinct vs edit_join_q4 is the
    * measured pair of curves).
    *
    * Output: (id1, id2, dist). */
  def editDistancePairs(df: DataFrame, strCol: String, idCol: String,
                        maxDist: Int, q: Int): DataFrame = {
    require(maxDist >= 1 && q >= 2, s"need maxDist>=1, q>=2; got $maxDist/$q")
    val prefixLen = maxDist * q + 1
    val base = df.select(col(idCol).cast(LongType).as("id"),
                         col(strCol).as("s"))
    // a string can lose ALL its grams to k edits iff it has <= k*q
    // positional grams, i.e. len <= (k+1)*q - 1: route those short
    // strings to the exact block below
    val minSafeLen = (maxDist + 1) * q
    val long0 = base.filter(length(col("s")) >= minSafeLen)
    val grams = long0.select(col("id"),
        explode(array_distinct(transform(
          sequence(lit(0), length(col("s")) - q),
          i => col("s").substr(i + lit(1), lit(q))))).as("gram"))
    val freq = grams.groupBy("gram").agg(count(lit(1)).as("gfreq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("gfreq"), col("gram"))
    // the prefix relation CARRIES the string: verification then runs
    // map-side directly on the self-join output, so the group²-sized
    // candidate stream is filtered where it is produced — it is never
    // exchanged (no candidate distinct, no string-attach joins). A
    // population of near-identical-but-beyond-k strings (the worst
    // case: every pair shares prefix grams yet fails verification)
    // costs one cheap banded-DP per bucket pair instead of three
    // candidate-sized shuffles. Dedup (a pair can share several prefix
    // grams) happens on the post-verify TRUE-MATCH relation only.
    val prefix = grams.join(freq, Seq("gram"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= prefixLen)
      .select("id", "gram")
      .join(base, Seq("id"))
    val verifiedLong = prefix
      .select(col("id").as("id1"), col("s").as("s1"), col("gram"))
      .join(prefix.select(col("id").as("id2"), col("s").as("s2"),
        col("gram")), Seq("gram"))
      .filter(col("id1") < col("id2"))
      .filter(abs(length(col("s1")) - length(col("s2"))) <= maxDist)
      .withColumn("dist",
        levenshtein(col("s1"), col("s2"), maxDist).cast(LongType))
      .filter(col("dist") >= 0)
      .select("id1", "id2", "dist")
    // short-string exact block: a short string can also match a LONG one
    // within maxDist (len diff <= maxDist), so the block population is
    // every string with len < minSafeLen + maxDist, and it keeps exactly
    // the pairs with at least one truly-short side — pairs with both
    // sides >= minSafeLen belong to (and only to) the gram path, so the
    // two candidate sets are disjoint. The block equi-joins on exact
    // LENGTH with the left side exploded over len±maxDist (each in-band
    // pair matches at exactly one delta, and the id1<id2 filter keeps
    // one of its two orientations) — a real hash-join key, not a
    // constant that would plan as a nested-loop; volume is bounded by
    // the short-string population contract.
    val short0 = base.filter(length(col("s")) < minSafeLen + maxDist)
      .withColumn("len", length(col("s")).cast(LongType))
      .withColumn("is_short", length(col("s")) < minSafeLen)
    val verifiedShort = short0.select(
        explode(sequence(col("len") - maxDist, col("len") + maxDist))
          .as("lb"),
        col("id").as("id1"), col("s").as("s1"), col("is_short").as("sh1"))
      .join(short0.select(col("len").as("lb"), col("id").as("id2"),
        col("s").as("s2"), col("is_short").as("sh2")), Seq("lb"))
      .filter(col("id1") < col("id2") && (col("sh1") || col("sh2")))
      .withColumn("dist",
        levenshtein(col("s1"), col("s2"), maxDist).cast(LongType))
      .filter(col("dist") >= 0)
      .select("id1", "id2", "dist")
    // each short pair matches at exactly one length delta, so only the
    // gram path can duplicate (several shared prefix grams) — the
    // distinct runs over the true-match relation, bounded by real
    // near-duplicate volume
    verifiedLong.unionByName(verifiedShort).distinct()
  }

  /** Reference STATE for the delta edit join ([[editDistancePairsDelta]])
    * — what an entity-resolution service materializes once so daily
    * batches link against it without re-deriving the reference side:
    *
    *  - `ranks`: the reference corpus's (gram, rank) table under the
    *    (frequency asc, gram asc) total order — the FROZEN blocking
    *    order. Losslessness of prefix blocking holds for ANY total
    *    order as long as both sides of a pair use the SAME one (the
    *    set-form lemma never uses what the order MEANS — frequency is
    *    only a bucket-size heuristic), so freezing the reference order
    *    stays exact as the batch distribution drifts; only bucket
    *    sizes degrade, and refreshing the state is the tuning lever.
    *    Batch grams absent from the table sort BEFORE every ranked
    *    gram (by gram among themselves): they have reference frequency
    *    zero — rarer than anything seen — and reference strings never
    *    contain them, so the combined order restricted to either side
    *    is consistent.
    *  - `prefix`: the reference prefix relation (gram, id, s) — k·q+1
    *    rows per reference string, string carried for map-side verify.
    *  - `short`: the reference border population (len, id, s,
    *    is_short) for the exact short block.
    *
    * All three are plain DataFrames — persist them as warehouse tables
    * (Pipeline.Table) exactly like the minhash band state. */
  def editJoinState(ref: DataFrame, strCol: String, idCol: String,
                    maxDist: Int, q: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    require(maxDist >= 1 && q >= 2, s"need maxDist>=1, q>=2; got $maxDist/$q")
    val prefixLen = maxDist * q + 1
    val minSafeLen = (maxDist + 1) * q
    val base = ref.select(col(idCol).cast(LongType).as("id"),
      col(strCol).as("s"))
    val grams = base.filter(length(col("s")) >= minSafeLen)
      .select(col("id"), explode(array_distinct(transform(
        sequence(lit(0), length(col("s")) - q),
        i => col("s").substr(i + lit(1), lit(q))))).as("gram"))
    val ranks = grams.groupBy("gram").agg(count(lit(1)).as("gfreq"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("gfreq"), col("gram"))).cast(LongType))
      .select("gram", "rank")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("rank"), col("gram"))
    val prefix = grams.join(ranks, Seq("gram"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= prefixLen)
      .select("id", "gram")
      .join(base, Seq("id"))
    val short = base.filter(length(col("s")) < minSafeLen + maxDist)
      .withColumn("len", length(col("s")).cast(LongType))
      .withColumn("is_short", length(col("s")) < minSafeLen)
    (ranks, prefix, short)
  }

  /** DELTA edit-distance join: all (ref_id, batch_id, dist) pairs
    * within `maxDist` edits BETWEEN a stored reference population and a
    * new batch — record linkage as an incremental service (the
    * delta-family move applied to d15: per-batch cost tracks the BATCH
    * plus the reference PREFIX relation, never re-derives reference
    * grams or frequencies; batch-internal pairs are [[editDistancePairs]]
    * on the batch, by contract). Batch prefixes are selected under the
    * state's FROZEN gram order (unseen grams first — see
    * [[editJoinState]] for why that stays lossless); verification runs
    * map-side on the join output exactly as in the static operator, and
    * the short×long border routes through the exact block against the
    * stored border population. */
  def editDistancePairsDelta(batch: DataFrame, strCol: String, idCol: String,
                             maxDist: Int, q: Int,
                             ranks: DataFrame, refPrefix: DataFrame,
                             refShort: DataFrame): DataFrame = {
    require(maxDist >= 1 && q >= 2, s"need maxDist>=1, q>=2; got $maxDist/$q")
    val prefixLen = maxDist * q + 1
    val minSafeLen = (maxDist + 1) * q
    val b = batch.select(col(idCol).cast(LongType).as("id"),
      col(strCol).as("s"))
    val bGrams = b.filter(length(col("s")) >= minSafeLen)
      .select(col("id"), explode(array_distinct(transform(
        sequence(lit(0), length(col("s")) - q),
        i => col("s").substr(i + lit(1), lit(q))))).as("gram"))
    // unseen grams (reference frequency zero) sort before every ranked
    // gram: coalesce(rank, -1) then gram keeps the combined order total
    // and consistent with the frozen reference order
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(coalesce(col("rank"), lit(-1L)), col("gram"))
    val bPrefix = bGrams.join(ranks, Seq("gram"), "left_outer")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= prefixLen)
      .select("id", "gram")
      .join(b, Seq("id"))
    val verifiedLong = refPrefix
      .select(col("id").as("ref_id"), col("s").as("s1"), col("gram"))
      .join(bPrefix.select(col("id").as("batch_id"), col("s").as("s2"),
        col("gram")), Seq("gram"))
      .filter(abs(length(col("s1")) - length(col("s2"))) <= maxDist)
      .withColumn("dist",
        levenshtein(col("s1"), col("s2"), maxDist).cast(LongType))
      .filter(col("dist") >= 0)
      .select("ref_id", "batch_id", "dist")
    // exact border block: batch border strings against the stored
    // reference border population, keeping pairs with >= 1 truly-short
    // side (both-long pairs belong to the gram path, as in the static
    // operator — the candidate sets stay disjoint)
    val bShort = b.filter(length(col("s")) < minSafeLen + maxDist)
      .withColumn("len", length(col("s")).cast(LongType))
      .withColumn("is_short", length(col("s")) < minSafeLen)
    val verifiedShort = refShort.select(
        explode(sequence(col("len") - maxDist, col("len") + maxDist))
          .as("lb"),
        col("id").as("ref_id"), col("s").as("s1"),
        col("is_short").as("sh1"))
      .join(bShort.select(col("len").as("lb"), col("id").as("batch_id"),
        col("s").as("s2"), col("is_short").as("sh2")), Seq("lb"))
      .filter(col("sh1") || col("sh2"))
      .withColumn("dist",
        levenshtein(col("s1"), col("s2"), maxDist).cast(LongType))
      .filter(col("dist") >= 0)
      .select("ref_id", "batch_id", "dist")
    verifiedLong.unionByName(verifiedShort).distinct()
  }

  /** Pick q for [[editDistancePairs]] from the MEASURED gram-space
    * saturation of a deterministic sample, instead of asking the caller
    * to know their alphabet's entropy up front.
    *
    * The quadratic failure shape is input-dependent: on a low-entropy
    * alphabet (dense numeric keys) only |alphabet|^q grams EXIST, so
    * average bucket size grows ~corpus/|alphabet|^q and candidate volume
    * saturates quadratically however rare-first the prefix ordering is
    * (the tuning contract documented on the operator). That saturation is
    * directly visible in a small sample: the mean q-gram frequency of the
    * sample, scaled by 1/sampleFraction, estimates the full-corpus mean
    * bucket size (per-gram frequency scales ~linearly with corpus size;
    * in high-entropy corpora the distinct-gram count grows too, making
    * the scaled estimate conservative).
    *
    * Selection: walk candidate widths ascending and take the FIRST whose
    * estimated full-corpus mean bucket is <= maxMeanBucket — smallest
    * sufficient q wins because larger q raises minSafeLen (routing more
    * strings to the quadratic-in-its-population short block) and emits
    * more prefix rows per string (k·q+1). A candidate that strands more
    * than half the sampled strings below its own minSafeLen is skipped
    * outright — no point sizing the gram space if the gram path no longer
    * covers the corpus. If nothing meets the bound, escalate from the
    * smallest covering width ONLY while each step at least HALVES the
    * estimated bucket: on a structured corpus whose gram diversity is
    * capped by format (fixed prefixes + bounded digit tails — the
    * Customer# shape), distinct grams barely grow with q, so a wider
    * gram space buys nothing while every string pays k more prefix rows
    * and each bucket pair a longer DP — measured 4.4 / 10.4 / 24.0 s
    * for q=3/4/5 on the SAME corpus with near-flat gram counts
    * (PLANS.md round-11). Escalation must earn its fan-out.
    *
    * Cost: ONE aggregation job over a ~1/sampleMod md5-deterministic
    * sample (the t11 sample contract), collecting |candidates| rows to
    * the driver — bounded by construction. Deterministic: exact counts on
    * an md5-keyed sample, no RNG. */
  def chooseEditJoinQ(df: DataFrame, strCol: String, maxDist: Int,
                      candidates: Seq[Int] = Seq(3, 4, 5),
                      sampleMod: Int = 20,
                      maxMeanBucket: Double = 32.0): Int = {
    require(candidates.nonEmpty && candidates == candidates.sorted &&
      candidates.forall(_ >= 2), s"need sorted candidates >= 2: $candidates")
    val sample = df.select(col(strCol).as("s"))
      .filter(col("s").isNotNull)
      .filter(pmod(md5Long(col("s")), lit(sampleMod.toLong)) === 0L)
    // one union-all job: per candidate q, (gram rows, distinct grams,
    // strings long enough for the gram path) over the sample
    val per = candidates.map { q =>
      sample.filter(length(col("s")) >= (maxDist + 1) * q)
        .select(col("s"), explode(array_distinct(transform(
          sequence(lit(0), length(col("s")) - q),
          i => col("s").substr(i + lit(1), lit(q))))).as("gram"))
        .agg(count(lit(1)).as("t"), count_distinct(col("gram")).as("g"),
             count_distinct(col("s")).as("n_long"))
        .select(lit(q).as("q"), col("t"), col("g"), col("n_long"))
    }.reduce(_ unionByName _)
    val nSample = sample.select(count_distinct(col("s"))).head().getLong(0)
    val stats = per.collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    val covering = stats.filter { case (_, t, g, nLong) =>
      g > 0 && (nSample == 0L || nLong * 2 >= nSample)
    }
    if (covering.isEmpty) candidates.head
    else {
      def estBucket(s: (Int, Long, Long, Long)): Double =
        s._2.toDouble / s._3.toDouble * sampleMod
      covering.find(estBucket(_) <= maxMeanBucket) match {
        case Some(s) => s._1
        case None =>
          // nothing meets the bound: escalate only while each wider
          // gram space at least halves the estimated bucket
          covering.tail.foldLeft(covering.head) { (cur, nxt) =>
            if (estBucket(nxt) <= estBucket(cur) / 2) nxt else cur
          }._1
      }
    }
  }

  /** [[editDistancePairs]] with q chosen by [[chooseEditJoinQ]]'s
    * measured pre-pass — same output contract (the naive-quadratic oracle
    * is q-agnostic, so any lossless width hashes identically), with the
    * digit-alphabet quadratic shape avoided automatically instead of by
    * docstring. */
  def editDistancePairsAuto(df: DataFrame, strCol: String, idCol: String,
                            maxDist: Int,
                            candidates: Seq[Int] = Seq(3, 4, 5),
                            sampleMod: Int = 20,
                            maxMeanBucket: Double = 32.0): DataFrame =
    editDistancePairs(df, strCol, idCol, maxDist,
      chooseEditJoinQ(df, strCol, maxDist, candidates, sampleMod, maxMeanBucket))

  /** DELTA SEMANTIC DEDUP (SemDeDup as an incremental service — the
    * last dedup family member without a delta form; minhash, span,
    * substring, CC, edit join and the data card all have one): a new
    * batch is assigned MAP-ONLY against the FROZEN coarse quantizer
    * (the e20 maintained-index contract — no refit, e18's recall
    * report says when to refit) and pairs only within its cells
    * against (state ∪ batch); state vectors never drop (they are the
    * kept reference), batch vectors drop to the first same-cell
    * neighbor at-or-above the threshold by (state-first, id asc) —
    * ANY state neighbor is an eligible keeper regardless of id order
    * (ADVICE r12: an `id1 < id2`-only rule silently kept a batch
    * vector whose only near-duplicate in state had a larger id,
    * i.e. it was only correct under monotone id assignment), while
    * batch-batch pairs keep the deterministic smaller-id keeper.
    * Equivalent to [[semanticDedup]] run globally with ids
    * remapped so every state id precedes every batch id (the spec
    * proves that equivalence), and identical to it outright when id
    * assignment IS monotone. A re-sent id (present in both state and
    * batch) never self-drops (`id1 != id2`). Same rounded-cosine
    * boundary as [[semanticDedup]].
    *
    * Scale shape: batch assignment map-only; the pair join keys on
    * cell with the BATCH side bounded, so per-tick cost tracks
    * |batch| x cell occupancy, never the state size; state arrives as
    * the stored (id, v, cell) relation — at 100 TB a cell-partitioned
    * table whose scan prunes to the batch's cells.
    *
    * `state`: (id, v, cell) as stored by a prior assignment (e.g.
    * [[graft.operators.Similarity.cellAssignments]] or the
    * maintained IVF layout). Output: (drop_id, keeper_id, cell,
    * cosine) — drop_id ∈ batch only. */
  def semanticDedupDelta(batch: DataFrame, state: DataFrame,
                         vecCol: String, idCol: String,
                         codebook: Seq[Seq[Double]],
                         threshold: Double): DataFrame = {
    val b = Similarity.cellAssignments(batch, vecCol, idCol, codebook)
    val all = state.select(col("id"), col("v"), col("cell"))
      .withColumn("st", lit(1))
      .unionByName(b.select(col("id"), col("v"), col("cell"))
        .withColumn("st", lit(0)))
    val l = all.select(col("cell"), col("id").as("id1"), col("v").as("v1"),
      col("st"))
    val r = b.select(col("cell"), col("id").as("id2"), col("v").as("v2"))
    l.join(r, Seq("cell"))
      // keeper eligibility keyed on (is_state, id), not id alone: any
      // state neighbor keeps (state is the kept reference — no id-order
      // assumption), batch-batch keeps the smaller id (deterministic,
      // acyclic); a re-sent id never pairs with itself
      .filter((col("st") === 1 || col("id1") < col("id2")) &&
        col("id1") =!= col("id2"))
      .withColumn("cos_r",
        round(VectorExpressions.cosine(col("v1"), col("v2")), 6))
      .filter(col("cos_r") >= threshold)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("id2").orderBy(col("st").desc, col("id1"))))
      .filter(col("rn") === 1)
      .select(col("id2").as("drop_id"), col("id1").as("keeper_id"),
        col("cell"), col("cos_r").as("cosine"))
  }

  /** BLOOM-GATED DELTA EXACT DEDUP — dedup an incoming batch against a
    * large HISTORY corpus without exchanging the history per batch: a
    * bloom bitset over the history's normalized-text fingerprints
    * ([[BloomJoin.buildBloom]] — bounded at m/64 longs, the literal
    * contract) gates the batch MAP-ONLY; rows that miss the bloom are
    * provably new (no false negatives) and never enter a join, and only
    * the passers (true duplicates + the bloom's false positives) probe
    * the exact fingerprint join. At 100 TB this is the difference
    * between shuffling the full batch against the full history every
    * tick and probing with the tiny passer subset — the batch-side
    * analog of d20/d21's delta forms, on the d01 exact-fingerprint
    * contract.
    *
    * The result is EXACT regardless of bloom sizing (false positives
    * die in the confirm join), so `is_new` equals the plain anti-join.
    * `bloom_hit` itself is md5-derived ([[GraftFunctions.md5Long]]
    * seeded rows), so unlike q53's result-only check the gate replays
    * the PRUNING DECISION per row too — an oracle can verify both that
    * no duplicate ever misses the bloom and exactly which new rows were
    * false positives.
    *
    * Output: one row per batch record — (idCol, fp, bloom_hit, is_new).
    */
  def bloomDeltaDedup(history: DataFrame, batch: DataFrame,
                      textCol: String, idCol: String,
                      m: Int = 1 << 16, kh: Int = 3): DataFrame = {
    val histFps = history
      .select(fingerprint(col(textCol)).as("fp"))
      .filter(col("fp").isNotNull).distinct()
    val bloom = BloomJoin.buildBloom(histFps, "fp", m, kh)
    val b = batch.select(col(idCol),
        fingerprint(col(textCol)).as("fp"))
      // NULL fp (null payload) can match nothing in history: hit=false,
      // new=true, mirrored by the oracle's coalesce.
      .withColumn("bloom_hit",
        coalesce(BloomJoin.mightContain(col("fp"), bloom, kh), lit(false)))
      // cut: the confirmed/misses union branches would otherwise each
      // re-run the CPU-dense fingerprint + kh bloom hashes over the
      // whole batch (no CSE across union branches — the t26 double-
      // consumption shape). The materialized relation is the SKINNY
      // (id, fp, hit) batch — the durable-cut a streaming tick
      // persists anyway.
      .localCheckpoint()
    // Only bloom passers reach the exact join — the misses branch is the
    // pruned fast path (spec-pinned: the join's probe side carries the
    // bloom_hit filter).
    val confirmed = b.filter(col("bloom_hit"))
      .join(histFps.withColumn("in_hist", lit(true)), Seq("fp"), "left_outer")
      .select(col(idCol), col("fp"), col("bloom_hit"),
        coalesce(col("in_hist"), lit(false)).as("dup"))
    val misses = b.filter(!col("bloom_hit"))
      .select(col(idCol), col("fp"), col("bloom_hit"),
        lit(false).as("dup"))
    confirmed.unionByName(misses)
      .select(col(idCol), col("fp"), col("bloom_hit"),
        (!col("dup")).as("is_new"))
  }

  /** EXACT all-pairs set-cosine similarity join with lossless prefix
    * filtering (Bayardo/Ma/Srikant WWW'07 "Scaling Up All Pairs
    * Similarity Search"; the MapReduce form is Vernica/Carey/Li SIGMOD'10)
    * — the exact complement of [[minhashPairs]]: LSH banding is
    * probabilistic (a band miss loses a true pair), this operator
    * returns EVERY pair with cos >= tau, guaranteed, the same
    * losslessness contract as [[editDistancePairs]]'s q-gram blocking.
    *
    * Semantics: each doc is its DISTINCT word-`shingleN`-gram set
    * (hashed to the 60-bit space — a collision merges two shingles
    * identically on both engines); for sets, cos(x,y) =
    * |x∩y| / sqrt(|x|·|y|). tau = tauNum/tauDen rational so EVERY
    * decision is integer arithmetic: the pair gate is
    * tauDen²·o² >= tauNum²·n1·n2 (o = overlap) — no float ever decides
    * membership; the reported cos is quantized to nano AFTER the gate
    * through exactly-rounded IEEE ops (sqrt/div/mul are correctly
    * rounded in both engines, the d05 contract).
    *
    * Prefix-filter lemma (Xiao et al., PPJoin): under ANY global total
    * order on set elements, if cos(x,y) >= tau then the first
    * p(x) = |x| - ceil(tau²·|x|) + 1 elements of x and the first p(y)
    * of y share an element (because o >= tau·sqrt(|x||y|) >=
    * ceil(tau²·max(|x|,|y|))). Ordering by (corpus frequency asc,
    * hash asc) makes prefix elements the RAREST, so candidate buckets
    * stay small — the order is a bucket-size heuristic only;
    * losslessness never uses what it means (the editJoinState lemma).
    *
    * At scale: the hashed-set base is built map-only in one compiled
    * pass ([[graft.expressions.Md5SetExpr]]) and materialized once
    * (localCheckpoint — consumed by the frequency/ranking branch AND
    * both verify-side attach joins). The frequency relation is one
    * groupBy keyed by shingle hash; prefix selection is one id-keyed
    * window over shingle rows (the d15 shape); prefix elements with
    * corpus frequency 1 are dropped BEFORE the self-join (they can
    * only self-pair — pure pruning, and most of a natural corpus's
    * shingle mass is df=1). Candidates stay SKINNY through the
    * self-join and dedup as (id1, id2) BEFORE any array travels; the
    * sets then attach by two id-keyed equi-joins and each surviving
    * pair is verified EXACTLY ONCE. This is the opposite trade from
    * [[editDistancePairs]] (which carries strings and verifies
    * map-side per co-occurrence): a pair here co-occurs once per
    * SHARED prefix element — O(prefix) duplication — and set
    * intersection is O(n) with no early exit, so verify-once-per-pair
    * beats verify-per-co-occurrence (measured 16x probe: 142 s
    * carrying arrays through the join vs 9 s in this shape); d15's DP
    * has early exit and bounded k·q+1 duplication, so the opposite
    * choice wins there. At low tau prefixes approach n and the
    * operator degrades toward all-pairs BY DESIGN (the threshold is
    * the work knob). Exact-copy inflation is handled the d02/d04 way:
    * compose with [[fingerprintReps]] to pair only distinct
    * fingerprints and re-weight by copy counts.
    *
    * Output: (id1, id2, n1, n2, n_shared, cos_nano), one row per
    * unordered pair with cos >= tau; docs with zero shingles never
    * pair (t24 contract). */
  def allPairsCosine(df: DataFrame, textCol: String, idCol: String,
                     shingleN: Int, tauNum: Int, tauDen: Int,
                     suffixDepth: Int = 0): DataFrame = {
    require(shingleN >= 1, s"shingleN must be >= 1, got $shingleN")
    allPairsCosinePre(hashedShingleSets(df, textCol, idCol, shingleN),
      tauNum, tauDen, suffixDepth)
  }

  /** [[allPairsCosine]] on a PRE-BUILT hashed-set base (from
    * [[allPairsCosineAppend]]) — the streaming tick's internal-pair
    * step, so a batch's sets are hashed once ever.
    *
    * `suffixDepth` > 0 enables the PPJoin+ SUFFIX FILTER
    * ([[graft.expressions.SuffixOverlapBoundExpr]], VERDICT r14
    * next-#6) between the candidate join and the exact verification:
    * pairs whose depth-capped overlap BOUND cannot reach the
    * threshold skip array_intersect entirely. Lossless (the bound is
    * an upper bound), so the output is depth-invariant —
    * AllPairsCosineSpec pins filtered == unfiltered == the naive
    * quadratic. The measured trigger: enable it when the ScaleProbe
    * candidate/verify ratio shows candidates dominating true pairs
    * (high-prefix-overlap corpora); at ratio ~1 the bound is pure
    * overhead. */
  def allPairsCosinePre(base: DataFrame, tauNum: Int, tauDen: Int,
                        suffixDepth: Int = 0): DataFrame = {
    require(tauNum >= 1 && tauNum <= tauDen,
      s"need 0 < tau <= 1, got $tauNum/$tauDen")
    val t2n = tauNum.toLong * tauNum
    val t2d = tauDen.toLong * tauDen
    val attached = cosineCandidatesAttached(base, t2n, t2d)
    val preVerified =
      if (suffixDepth <= 0) attached
      else cosineSuffixSurvivors(attached, t2n, t2d, suffixDepth)
    preVerified
      .withColumn("n_shared",
        size(array_intersect(col("shs1"), col("shs2"))).cast(LongType))
      .filter(lit(t2d) * col("n_shared") * col("n_shared") >=
        lit(t2n) * col("n1") * col("n2"))
      .withColumn("cos_nano", floor(col("n_shared").cast(DoubleType) /
        sqrt((col("n1") * col("n2")).cast(DoubleType)) * lit(1e9) +
        lit(0.5)).cast(LongType))
      .select("id1", "id2", "n1", "n2", "n_shared", "cos_nano")
  }

  /** The cosine family's prefix-filtered candidate pairs with BOTH
    * hashed sets attached — the stage every verification mode
    * (plain, suffix-filtered, and the measured-trigger stats) shares,
    * factored once so they can never drift (r15). */
  private def cosineCandidatesAttached(base: DataFrame,
                                       t2n: Long, t2d: Long): DataFrame = {
    val freq = base.select(explode(col("shs")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("hfreq"))
    // a df=1 element can only pair a doc with itself — pure pruning
    val prefix = rarestFirstPrefix(base, freq, t2n, t2d, frozen = false)
      .filter(col("hfreq") >= 2)
      .select("h", "id", "n")
    val cand = prefix
      .select(col("h"), col("id").as("id1"), col("n").as("n1"))
      .join(prefix.select(col("h"), col("id").as("id2"),
        col("n").as("n2")), Seq("h"))
      .filter(col("id1") < col("id2"))
      // size filter (implied by the gate; prunes before the dedup)
      .filter(lit(t2d) * least(col("n1"), col("n2")) >=
        lit(t2n) * greatest(col("n1"), col("n2")))
      .select("id1", "id2")
      .distinct()
    cand
      .join(base.select(col("id").as("id1"), col("shs").as("shs1"),
        col("n").as("n1")), Seq("id1"))
      .join(base.select(col("id").as("id2"), col("shs").as("shs2"),
        col("n").as("n2")), Seq("id2"))
  }

  /** THE MEASURED TRIGGER for the suffix-filter knob: (candidate
    * pairs reaching verification, candidates the depth-`suffixDepth`
    * suffix bound lets through). A candidates/true-pairs ratio near 1
    * means the bound is pure overhead; a large drop
    * (candidates >> survivors) is the corpus shape where enabling
    * `suffixDepth` pays — the ScaleProbe `suffix_filter` row reports
    * exactly this. */
  private[graft] def cosineSuffixStats(df: DataFrame, textCol: String,
                                       idCol: String, shingleN: Int,
                                       tauNum: Int, tauDen: Int,
                                       suffixDepth: Int): (Long, Long) = {
    val t2n = tauNum.toLong * tauNum
    val t2d = tauDen.toLong * tauDen
    val attached = cosineCandidatesAttached(
      hashedShingleSets(df, textCol, idCol, shingleN), t2n, t2d)
      .persist()
    try {
      val n0 = attached.count()
      val n1 = cosineSuffixSurvivors(attached, t2n, t2d, suffixDepth)
        .count()
      (n0, n1)
    } finally attached.unpersist(false)
  }

  /** The suffix-bound pre-verification — ONE predicate shared by the
    * operator and the measured-trigger stats (review r15): a
    * threshold-arithmetic change applied to one consumer cannot leave
    * the other reporting a different filter. */
  private def cosineSuffixSurvivors(attached: DataFrame, t2n: Long,
                                    t2d: Long, depth: Int): DataFrame =
    attached
      .withColumn("__sb", graft.expressions.HashExpressions
        .suffixOverlapBound(col("shs1"), col("shs2"), depth))
      .filter(lit(t2d) * col("__sb") * col("__sb") >=
        lit(t2n) * col("n1") * col("n2"))
      .drop("__sb")

  /** (id, shs = sorted distinct 60-bit shingle hashes, n) — the hashed
    * set representation the cosine family shares, materialized once
    * (localCheckpoint: every caller consumes it at least twice). */
  private def hashedShingleSets(df: DataFrame, textCol: String,
                                idCol: String, shingleN: Int): DataFrame =
    df.select(col(idCol).cast(LongType).as("id"),
        graft.expressions.HashExpressions
          .md5Set(wordShingles(col(textCol), shingleN)).as("shs"))
      .withColumn("n", size(col("shs")).cast(LongType))
      .filter(col("n") > 0)
      .localCheckpoint(false)

  /** The rarest-first prefix of each hashed set: the first
    * n - ceil(tau²·n) + 1 elements under the (frequency asc, hash asc)
    * total order that `freq` defines. `frozen = true` looks the order
    * up in a FROZEN reference table (left join; unseen hashes take
    * frequency 0 — rarer than anything seen); `frozen = false` expects
    * every element present (the self-derived order). The ceil is exact
    * integer arithmetic; the floor's double round-trip is exact for
    * |t2n·n + t2d - 1| < 2^53 (n < 2^49 even at tauDen=5). */
  private def rarestFirstPrefix(base: DataFrame, freq: DataFrame,
                                t2n: Long, t2d: Long,
                                frozen: Boolean): DataFrame = {
    val ex = base.select(col("id"), explode(col("shs")).as("h"), col("n"))
    val joined =
      if (frozen)
        ex.join(freq, Seq("h"), "left_outer")
          .withColumn("hfreq", coalesce(col("hfreq"), lit(0L)))
      else ex.join(freq, Seq("h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("hfreq"), col("h"))
    val prefixLen = col("n") -
      floor((lit(t2n) * col("n") + lit(t2d - 1)) / lit(t2d)) + lit(1)
    joined.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= prefixLen)
      .select("h", "id", "n", "hfreq")
  }

  /** EXACT all-pairs set-CONTAINMENT similarity join — the
    * quote/wrapper near-dup detector [[allPairsCosine]] cannot express:
    * containment(x, y) = |x∩y| / min(|x|,|y|) >= tau finds a short
    * document embedded in a long one (a quoted post inside a thread, a
    * boilerplate-wrapped article) where cosine |x∩y|/sqrt(|x||y|)
    * vanishes as the size ratio grows
    * ([[graft.operators.TextAnalysis.containmentPairs]] is the
    * BIPARTITE decontamination form of the same measure; this is the
    * lossless all-pairs SELF-join). Same family contract as d25:
    * LOSSLESS (every qualifying pair, guaranteed), and every
    * membership decision is pure integer arithmetic —
    * tauDen·o >= tauNum·min(n1,n2); the reported cont_nano is
    * round-half-up 1e9·o/n_small computed by integer division
    * ((2·1e9·o + n_small) div (2·n_small)) so the operator contains NO
    * floating-point operation at all (the t31 exactness rung).
    *
    * Containment breaks the symmetric prefix filter: the required
    * overlap t = ceil(tau·min(|x|,|y|)) has no lower bound from the
    * LARGER set's own size — a 1-shingle set is "contained" in
    * anything, so the container side's lossless prefix is its whole
    * set. The operator therefore takes the standard containment-join
    * knob `minN` (pairs whose SMALLER side has < minN shingles are
    * excluded — at that size "containment" is noise, the reason every
    * published set-containment join bounds the probe side) and uses
    * the ASYMMETRIC prefix bound (the r13 PPJoin+-analog candidate):
    *
    *  - smaller side emits its first |x| - ceil(tau·|x|) + 1 elements
    *    under the global (corpus frequency asc, hash asc) order;
    *  - container side emits |y| - ceil(tau·minN) + 1 elements (its
    *    worst case over partners it is allowed to meet), then the
    *    pairwise-exact bound rn2 <= |y| - ceil(tau·|x|) + 1 prunes at
    *    join time, when |x| is in hand;
    *  - PPJoin's POSITIONAL filter stacks on top: for the FIRST common
    *    element at ranks (rn1, rn2) every other shared element ranks
    *    after it in BOTH sets, so o <= 1 + min(n1-rn1, n2-rn2); rows
    *    failing 1 + min(...) >= t cannot be a true pair's first
    *    co-occurrence. Lossless because for a true pair the first
    *    common element (a) lies inside both prefixes — if any common
    *    element does, the globally-earliest one does, and the prefix
    *    lemma (overlap >= t ⇒ the (n-t+1)-prefixes intersect, since
    *    all o >= t common elements rank at or after the first one)
    *    guarantees one does — and (b) satisfies the positional bound,
    *    so at least that candidate row always survives.
    *
    * At scale the shape is [[allPairsCosinePre]]'s: one frequency
    * groupBy, one ranked window, df>=2 prefix prune (a df=1 element
    * cannot co-occur; rank is computed BEFORE the prune so positions
    * stay true), skinny (id1, id2) candidates deduped before any array
    * travels, each surviving pair verified exactly once by one
    * array_intersect. The asymmetry shows only in WHICH ranked rows
    * each side contributes.
    *
    * Output: (id1, id2, n1, n2, n_shared, cont_nano) — id1 is the
    * CONTAINED (smaller; id-asc on ties) side, one row per pair with
    * containment >= tau and min(n1,n2) >= minN. */
  def allPairsContainment(df: DataFrame, textCol: String, idCol: String,
                          shingleN: Int, tauNum: Int, tauDen: Int,
                          minN: Int, suffixDepth: Int = 0): DataFrame = {
    require(shingleN >= 1, s"shingleN must be >= 1, got $shingleN")
    allPairsContainmentPre(
      hashedShingleSets(df, textCol, idCol, shingleN)
        .filter(col("n") >= minN),
      tauNum, tauDen, minN, suffixDepth)
  }

  /** [[allPairsContainment]] on a PRE-BUILT hashed-set base (already
    * minN-filtered) — the streaming tick's internal-pair step, so a
    * batch's sets are hashed once ever. `suffixDepth` > 0 enables the
    * PPJoin+ suffix filter before exact verification (see
    * [[allPairsCosinePre]]; the containment threshold is
    * tauDen·bound >= tauNum·n1 — bound is an integer, so >= ceil is
    * the plain cross-multiplication). */
  def allPairsContainmentPre(base: DataFrame, tauNum: Int, tauDen: Int,
                             minN: Int, suffixDepth: Int = 0): DataFrame = {
    require(tauNum >= 1 && tauNum <= tauDen,
      s"need 0 < tau <= 1, got $tauNum/$tauDen")
    require(minN >= 1, s"minN must be >= 1, got $minN")
    val freq = base.select(explode(col("shs")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("hfreq"))
    val ranked = containmentRanked(base, freq, frozen = false)
      // a df=1 element can only self-pair in the SELF-join — pure prune
      .filter(col("hfreq") >= 2)
      .select("h", "id", "n", "rn")
      // both sides of the candidate self-join consume the ranked rows
      .localCheckpoint(false)
    def ceilTau(n: String) = ceilTauCol(tauNum, tauDen, n)
    val ctMin = (tauNum.toLong * minN + tauDen - 1) / tauDen
    val small = ranked
      .filter(col("rn") <= col("n") - ceilTau("n") + lit(1))
      .select(col("h"), col("id").as("id1"), col("n").as("n1"),
        col("rn").as("rn1"))
    val big = ranked
      .filter(col("rn") <= col("n") - lit(ctMin) + lit(1))
      .select(col("h"), col("id").as("id2"), col("n").as("n2"),
        col("rn").as("rn2"))
    val cand = small.join(big, Seq("h"))
      .filter(col("n1") < col("n2") ||
        (col("n1") === col("n2") && col("id1") < col("id2")))
      // asymmetric prefix bound, exact now that n1 is in hand
      .filter(col("rn2") <= col("n2") - ceilTau("n1") + lit(1))
      // positional filter: a first co-occurrence admits at most
      // 1 + min(suffixes) shared elements
      .filter(lit(1) + least(col("n1") - col("rn1"),
        col("n2") - col("rn2")) >= ceilTau("n1"))
      .select("id1", "id2")
      .distinct()
    val attached = cand
      .join(base.select(col("id").as("id1"), col("shs").as("shs1"),
        col("n").as("n1")), Seq("id1"))
      .join(base.select(col("id").as("id2"), col("shs").as("shs2"),
        col("n").as("n2")), Seq("id2"))
    val preVerified =
      if (suffixDepth <= 0) attached
      else attached
        .withColumn("__sb", graft.expressions.HashExpressions
          .suffixOverlapBound(col("shs1"), col("shs2"), suffixDepth))
        .filter(lit(tauDen.toLong) * col("__sb") >=
          lit(tauNum.toLong) * col("n1"))
        .drop("__sb")
    preVerified
      .withColumn("n_shared",
        size(array_intersect(col("shs1"), col("shs2"))).cast(LongType))
      .filter(lit(tauDen.toLong) * col("n_shared") >=
        lit(tauNum.toLong) * col("n1"))
      .withColumn("cont_nano",
        expr("(2000000000 * n_shared + n1) div (2 * n1)"))
      .select("id1", "id2", "n1", "n2", "n_shared", "cont_nano")
  }

  /** Every set element RANKED under the global (frequency asc, hash
    * asc) order — the containment family's shared relation (the
    * [[rarestFirstPrefix]] shape, but emitting ALL ranks: containment's
    * asymmetric prefixes and positional filter need positions, not one
    * truncated prefix). `frozen = true` ranks against a FROZEN
    * reference order (left join; unseen hashes take frequency 0 —
    * rarer than anything seen). Rank is computed over the FULL set so
    * downstream filters never distort positions. */
  /** ceil(tau·n) in pure integer arithmetic over a LongType column
    * expression `n` — the ONE definition of the containment family's
    * required-overlap rounding (the lossless-prefix lemma breaks if
    * any site rounds differently, review r14). */
  private def ceilTauCol(tauNum: Int, tauDen: Int,
                         n: String): Column =
    expr(s"($tauNum * $n + ${tauDen - 1}) div $tauDen")

  private def containmentRanked(base: DataFrame, freq: DataFrame,
                                frozen: Boolean): DataFrame = {
    val ex = base.select(col("id"), explode(col("shs")).as("h"), col("n"))
    val joined =
      if (frozen)
        ex.join(freq, Seq("h"), "left_outer")
          .withColumn("hfreq", coalesce(col("hfreq"), lit(0L)))
      else ex.join(freq, Seq("h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("hfreq"), col("h"))
    joined.withColumn("rn", row_number().over(w))
      .select("h", "id", "n", "rn", "hfreq")
  }

  /** The FROZEN reference side of the all-pairs containment join — the
    * [[allPairsCosineState]] pattern for the asymmetric family:
    * materialize the reference's blocking order and BOTH role prefixes
    * once, link daily batches without re-deriving the reference side.
    *
    *  - `freq`: the frozen (h, hfreq) order (the lemma holds for ANY
    *    shared total order — d26's argument verbatim);
    *  - `smallPrefix`: each ref set's exact contained-role prefix
    *    (rn <= n − ceil(τ·n) + 1), WITH positions for the filters;
    *  - `bigPrefix`: each ref set's container-role prefix under the
    *    minN worst case (rn <= n − ceil(τ·minN) + 1), with positions;
    *  - `base`: the ref hashed sets (n >= minN) for verify attach.
    *
    * No df>=2 prune on either prefix: a hash unique in the REFERENCE
    * can still collide with a batch element. All four are plain
    * DataFrames — persist as warehouse tables. */
  def allPairsContainmentState(ref: DataFrame, textCol: String,
                               idCol: String, shingleN: Int,
                               tauNum: Int, tauDen: Int, minN: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    require(tauNum >= 1 && tauNum <= tauDen,
      s"need 0 < tau <= 1, got $tauNum/$tauDen")
    require(minN >= 1, s"minN must be >= 1, got $minN")
    val base = hashedShingleSets(ref, textCol, idCol, shingleN)
      .filter(col("n") >= minN)
    val freq = base.select(explode(col("shs")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("hfreq"))
    val ranked = containmentRanked(base, freq, frozen = false)
      .select("h", "id", "n", "rn")
      .localCheckpoint(false) // both prefixes slice it
    val ctMin = (tauNum.toLong * minN + tauDen - 1) / tauDen
    val smallPrefix = ranked.filter(col("rn") <=
      col("n") - ceilTauCol(tauNum, tauDen, "n") + lit(1))
    val bigPrefix = ranked.filter(col("rn") <= col("n") - lit(ctMin) + lit(1))
    (freq, smallPrefix, bigPrefix, base)
  }

  /** Batch-vs-reference containment link — the daily-crawl tick for
    * the quote/wrapper detector ([[allPairsCosineDelta]]'s contract on
    * the ASYMMETRIC family): every (ref, batch) pair with containment
    * >= tau and min size >= minN, lossless under the frozen reference
    * order; batch-internal pairs are [[allPairsContainment]] on the
    * batch alone. The batch ranks against the frozen order (unseen
    * hash = frequency 0 = rarest); each pair routes through exactly
    * one of two role paths — ref-contained × batch-container when
    * n_ref <= n_batch (ref canonical on ties), batch-contained ×
    * ref-container strictly otherwise — each with the exact pairwise
    * prefix refine and positional filter of the self-join form, so
    * the union of the two skinny candidate sets is disjoint and
    * complete. Verification attaches both sides' sets by id and runs
    * once per pair; the gate and cont_nano are integer end-to-end.
    *
    * Output: (ref_id, batch_id, n_ref, n_batch, n_shared, cont_nano). */
  def allPairsContainmentDelta(batch: DataFrame, textCol: String,
                               idCol: String, shingleN: Int,
                               tauNum: Int, tauDen: Int, minN: Int,
                               freq: DataFrame, refSmall: DataFrame,
                               refBig: DataFrame, refBase: DataFrame)
      : DataFrame = {
    val (bBase, bSmall, bBig) = allPairsContainmentAppend(batch, textCol,
      idCol, shingleN, tauNum, tauDen, minN, freq)
    allPairsContainmentDeltaPre(bBase, bSmall, bBig, tauNum, tauDen,
      refSmall, refBig, refBase)
  }

  /** A batch's contribution to the frozen containment state: its
    * hashed sets and BOTH role prefixes UNDER the frozen order — what
    * a streaming tick appends to the state so later batches link
    * against this one too (the [[allPairsCosineAppend]] contract for
    * the asymmetric family). Frozen-frequency-0 hashes keep their
    * (rarest) ranks AND stay in the prefixes: against the frozen
    * reference they can match nothing (pure slack), but an ACCRETED
    * state contains earlier batches' sets, where the same unseen hash
    * can genuinely co-occur — pruning here would lose those pairs. */
  def allPairsContainmentAppend(batch: DataFrame, textCol: String,
                                idCol: String, shingleN: Int,
                                tauNum: Int, tauDen: Int, minN: Int,
                                freq: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    require(shingleN >= 1, s"shingleN must be >= 1, got $shingleN")
    require(tauNum >= 1 && tauNum <= tauDen,
      s"need 0 < tau <= 1, got $tauNum/$tauDen")
    require(minN >= 1, s"minN must be >= 1, got $minN")
    val bBase = hashedShingleSets(batch, textCol, idCol, shingleN)
      .filter(col("n") >= minN)
    val ctMin = (tauNum.toLong * minN + tauDen - 1) / tauDen
    val bRanked = containmentRanked(bBase, freq, frozen = true)
      .select("h", "id", "n", "rn")
      .localCheckpoint(false) // both role prefixes slice it
    val bSmall = bRanked.filter(col("rn") <=
      col("n") - ceilTauCol(tauNum, tauDen, "n") + lit(1))
    val bBig = bRanked.filter(col("rn") <= col("n") - lit(ctMin) + lit(1))
    (bBase, bSmall, bBig)
  }

  /** The cross link on PRE-BUILT batch relations (from
    * [[allPairsContainmentAppend]]) — the streaming tick's entry point:
    * the tick appends (bBase, bSmall, bBig) to the state anyway, so
    * the hashed sets and ranks are computed exactly once per document
    * ever. */
  def allPairsContainmentDeltaPre(bBase: DataFrame, bSmall: DataFrame,
                                  bBig: DataFrame,
                                  tauNum: Int, tauDen: Int,
                                  refSmall: DataFrame, refBig: DataFrame,
                                  refBase: DataFrame): DataFrame = {
    require(tauNum >= 1 && tauNum <= tauDen,
      s"need 0 < tau <= 1, got $tauNum/$tauDen")
    def ceilTau(n: String) = ceilTauCol(tauNum, tauDen, n)
    def path(small: DataFrame, big: DataFrame, sPre: String, bPre: String,
             strict: Boolean): DataFrame = {
      val s = small.select(col("h"), col("id").as(s"${sPre}_id"),
        col("n").as(s"n_$sPre"), col("rn").as("rn_s"))
      val b = big.select(col("h"), col("id").as(s"${bPre}_id"),
        col("n").as(s"n_$bPre"), col("rn").as("rn_b"))
      val sizeCond =
        if (strict) col(s"n_$sPre") < col(s"n_$bPre")
        else col(s"n_$sPre") <= col(s"n_$bPre")
      s.join(b, Seq("h"))
        .filter(sizeCond)
        .filter(col("rn_b") <=
          col(s"n_$bPre") - ceilTau(s"n_$sPre") + lit(1))
        .filter(lit(1) + least(col(s"n_$sPre") - col("rn_s"),
          col(s"n_$bPre") - col("rn_b")) >= ceilTau(s"n_$sPre"))
        .select("ref_id", "batch_id")
    }
    val cand = path(refSmall, bBig, "ref", "batch", strict = false)
      .unionByName(path(bSmall, refBig, "batch", "ref", strict = true))
      .distinct()
    cand
      .join(refBase.select(col("id").as("ref_id"), col("shs").as("shs1"),
        col("n").as("n_ref")), Seq("ref_id"))
      .join(bBase.select(col("id").as("batch_id"), col("shs").as("shs2"),
        col("n").as("n_batch")), Seq("batch_id"))
      .withColumn("n_shared",
        size(array_intersect(col("shs1"), col("shs2"))).cast(LongType))
      .withColumn("n_min", least(col("n_ref"), col("n_batch")))
      .filter(lit(tauDen.toLong) * col("n_shared") >=
        lit(tauNum.toLong) * col("n_min"))
      .withColumn("cont_nano",
        expr("(2000000000 * n_shared + n_min) div (2 * n_min)"))
      .select("ref_id", "batch_id", "n_ref", "n_batch", "n_shared",
        "cont_nano")
  }

  /** The FROZEN reference side of the all-pairs cosine join — the
    * [[editJoinState]] pattern for set similarity: materialize once,
    * link daily batches against it without re-deriving the corpus side.
    *
    *  - `freq`: the reference (h, hfreq) table — the FROZEN blocking
    *    order (frequency asc, hash asc). Lossless under drift for the
    *    same reason as editJoinState: the prefix lemma holds for ANY
    *    total order as long as both sides of a pair use the SAME one;
    *    frequency is only a bucket-size heuristic. Batch hashes absent
    *    from the table take frequency 0 — rarer than anything seen —
    *    and reference sets never contain them, so the combined order
    *    restricted to either side is consistent.
    *  - `prefix`: the reference prefix relation (h, id, n) — SKINNY
    *    (no arrays; the delta attaches sets by id at verify time).
    *    No df>=2 prune here: a reference hash unique in the REFERENCE
    *    can still collide with a batch element.
    *  - `base`: the reference hashed sets (id, shs, n) for the verify
    *    attach join.
    *
    * All three are plain DataFrames — persist as warehouse tables. */
  def allPairsCosineState(ref: DataFrame, textCol: String, idCol: String,
                          shingleN: Int, tauNum: Int, tauDen: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    require(tauNum >= 1 && tauNum <= tauDen,
      s"need 0 < tau <= 1, got $tauNum/$tauDen")
    val t2n = tauNum.toLong * tauNum
    val t2d = tauDen.toLong * tauDen
    val base = hashedShingleSets(ref, textCol, idCol, shingleN)
    val freq = base.select(explode(col("shs")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("hfreq"))
    val prefix = rarestFirstPrefix(base, freq, t2n, t2d, frozen = false)
      .select("h", "id", "n")
    (freq, prefix, base)
  }

  /** A batch's contribution to the frozen cosine state: its hashed
    * sets and its prefix UNDER the frozen order — what a streaming
    * tick appends to `base`/`prefix` so later batches link against
    * this one too. Shares the hashed-set materialization with
    * [[allPairsCosineDeltaPre]] — compute once, use for both. */
  def allPairsCosineAppend(batch: DataFrame, textCol: String, idCol: String,
                           shingleN: Int, tauNum: Int, tauDen: Int,
                           freq: DataFrame): (DataFrame, DataFrame) = {
    require(tauNum >= 1 && tauNum <= tauDen,
      s"need 0 < tau <= 1, got $tauNum/$tauDen")
    val t2n = tauNum.toLong * tauNum
    val t2d = tauDen.toLong * tauDen
    val bBase = hashedShingleSets(batch, textCol, idCol, shingleN)
    val bPrefix = rarestFirstPrefix(bBase, freq, t2n, t2d, frozen = true)
      .select("h", "id", "n")
    (bBase, bPrefix)
  }

  /** SHINGLE NOVELTY against a frozen reference — how much of each
    * batch document the reference has NEVER seen (Lee et al. 2022's
    * memorization/duplication lens; the per-document complement of the
    * d09/d10 decontamination joins, and the metric that tunes them):
    * novelty_ppm = 1e6 · (unseen shingles) div (distinct shingles),
    * exact integer division end to end. `refFreq` is the d26 state's
    * frozen (h, hfreq) table — the novelty scorer rides the same
    * warehouse relation the cosine link already maintains, so a
    * curation DAG gets this metric for one extra join.
    *
    * At scale: one shingle-hash-keyed left join (the reference side is
    * a distinct-hash relation, broadcastable when the reference
    * vocabulary is bounded) + one doc-keyed count-sum — no arrays
    * travel, no window. Docs with zero shingles are absent (the t24
    * contract).
    *
    * Output: (doc_id, n_shingles, n_seen, novelty_ppm). */
  def noveltyScores(batch: DataFrame, textCol: String, idCol: String,
                    shingleN: Int, refFreq: DataFrame): DataFrame = {
    val b = hashedShingleSets(batch, textCol, idCol, shingleN)
    b.select(col("id"), explode(col("shs")).as("h"))
      .join(refFreq.select(col("h"), lit(1L).as("seen")),
        Seq("h"), "left_outer")
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum(col("seen")), lit(0L)).as("n_seen"))
      .withColumn("novelty_ppm",
        expr("1000000 * (n_shingles - n_seen) div n_shingles"))
  }

  /** Batch-vs-reference all-pairs cosine — the daily-crawl link step
    * (the [[editDistancePairsDelta]] contract): every (ref, batch)
    * pair with cos >= tau, lossless under the FROZEN reference order;
    * batch-internal pairs are [[allPairsCosine]] on the batch alone
    * (cheap at batch size), keeping per-tick cost proportional to the
    * batch. Candidates stay skinny through the prefix join and dedup
    * before any array travels; verification attaches both sides' sets
    * by id and runs once per pair (the measured d25 shape).
    *
    * Output: (ref_id, batch_id, n_ref, n_batch, n_shared, cos_nano). */
  def allPairsCosineDelta(batch: DataFrame, textCol: String, idCol: String,
                          shingleN: Int, tauNum: Int, tauDen: Int,
                          freq: DataFrame, refPrefix: DataFrame,
                          refBase: DataFrame): DataFrame = {
    val (bBase, bPrefix) = allPairsCosineAppend(batch, textCol, idCol,
      shingleN, tauNum, tauDen, freq)
    allPairsCosineDeltaPre(bBase, bPrefix, tauNum, tauDen,
      refPrefix, refBase)
  }

  /** The cross link on PRE-BUILT batch relations (from
    * [[allPairsCosineAppend]]) — the streaming tick's entry point: the
    * tick appends (bBase, bPrefix) to the state anyway, so the hashed
    * sets are computed exactly once per document ever. */
  def allPairsCosineDeltaPre(bBase: DataFrame, bPrefix: DataFrame,
                             tauNum: Int, tauDen: Int,
                             refPrefix: DataFrame,
                             refBase: DataFrame): DataFrame = {
    require(tauNum >= 1 && tauNum <= tauDen,
      s"need 0 < tau <= 1, got $tauNum/$tauDen")
    val t2n = tauNum.toLong * tauNum
    val t2d = tauDen.toLong * tauDen
    val cand = refPrefix
      .select(col("h"), col("id").as("ref_id"), col("n").as("n_ref"))
      .join(bPrefix.select(col("h"), col("id").as("batch_id"),
        col("n").as("n_batch")), Seq("h"))
      .filter(lit(t2d) * least(col("n_ref"), col("n_batch")) >=
        lit(t2n) * greatest(col("n_ref"), col("n_batch")))
      .select("ref_id", "batch_id")
      .distinct()
    cand
      .join(refBase.select(col("id").as("ref_id"), col("shs").as("shs1"),
        col("n").as("n_ref")), Seq("ref_id"))
      .join(bBase.select(col("id").as("batch_id"), col("shs").as("shs2"),
        col("n").as("n_batch")), Seq("batch_id"))
      .withColumn("n_shared",
        size(array_intersect(col("shs1"), col("shs2"))).cast(LongType))
      .filter(lit(t2d) * col("n_shared") * col("n_shared") >=
        lit(t2n) * col("n_ref") * col("n_batch"))
      .withColumn("cos_nano", floor(col("n_shared").cast(DoubleType) /
        sqrt((col("n_ref") * col("n_batch")).cast(DoubleType)) * lit(1e9) +
        lit(0.5)).cast(LongType))
      .select("ref_id", "batch_id", "n_ref", "n_batch", "n_shared",
        "cos_nano")
  }
}
