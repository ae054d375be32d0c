package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation joins — NOT the default path. Measured on q45's
  * 75%-single-key workload at 40M rows (PLANS.md "SkewJoin vs AQE",
  * `graft.tools.SkewProbe`): plain SMJ 16.3 s, AQE skew split 3.5 s,
  * this salted join 5.4 s. **Use AQE first** — it right-sizes splits
  * from runtime byte stats where the salt count here is a guess. The
  * operator remains for the shapes AQE cannot rewrite:
  *  - AQE-unavailable/restricted plans (e.g. Structured Streaming
  *    micro-batches);
  *  - join shapes outside AQE's skew rewrite (skewed FULL OUTER, or a
  *    downstream-required output partitioning, where AQE skips the
  *    split unless forceOptimizeSkewedJoin pays an extra shuffle);
  *  - when the mitigation itself must be engine-independent and
  *    reproducible (the salted plan is the same plan everywhere; AQE's
  *    split decisions are runtime-stat-dependent).
  *
  * Semantics: identical to `left.join(right, key, inner)`; the salt is
  * an internal fan-out column, never visible in the result.
  */
object SkewJoin {

  /** Two-path salted inner equi-join.
    *
    * 1. HOT-KEY DETECTION: a deterministic sample of the left (probe)
    *    side is frequency-counted; a key is "hot" when its sampled
    *    frequency is >= `hotFactor` x the MEDIAN key frequency (the
    *    robust baseline AQE's skew detection uses — a mean baseline
    *    provably never fires on the worst skew: with one 99%-dominant
    *    key the mean is inflated by the hot key's own mass, and with a
    *    single distinct key freq == mean always), OR when one key holds
    *    >= 1/saltBuckets of ALL sampled rows (absolute-share guard:
    *    catches the single/dominant-key cases where the median IS the
    *    hot key; low-cardinality uniform keys caught by this guard
    *    genuinely underuse the cluster and benefit from the salt
    *    fan-out). Default hotFactor = saltBuckets: a key only benefits
    *    from an n-way salt split if it is n-fold over-represented. At
    *    most 1000 keys qualify (top by count) so the hot-key
    *    set is always driver-bounded — the same contract AQE's skew
    *    stats use.
    * 2. HOT PATH: only hot-key left rows are salted into [0, n); only
    *    the hot-key subset of the right side (bounded: <= 1000
    *    keys) is replicated x n. Co-location cost for a hot key becomes
    *    max(|key|/n) instead of |key|.
    * 3. COLD PATH: everything else is a plain equi-join — zero
    *    replication, zero extra columns.
    * 4. UNION of the two paths.
    *
    * With no skew detected this degenerates to exactly the plain join
    * plus one sampled aggregate — the round-2 formulation's wholesale
    * x n replication of the right side (and its 8x shuffle write) is
    * gone. Result semantics are split-invariant: every (left, right)
    * key pair lands in exactly one path, so the union equals the plain
    * inner join row-for-row regardless of which keys were called hot.
    *
    * NULL join keys match nothing in an inner equi-join; both paths
    * drop them (the cold path's `isin` filter evaluates NULL -> row
    * filtered), preserving plain-join semantics.
    */
  def saltedInnerJoin(left: DataFrame, right: DataFrame, key: String,
                      saltBuckets: Int,
                      sampleFraction: Double = 0.05,
                      hotFactor: Double = -1): DataFrame = {
    require(saltBuckets > 0, "saltBuckets must be positive")
    require(sampleFraction > 0 && sampleFraction <= 1.0,
      "sampleFraction must be in (0, 1]")
    val factor = if (hotFactor > 0) hotFactor else saltBuckets.toDouble

    // 1. sampled key-frequency stats (one small agg job, like AQE's
    // runtime stats; seed fixed so reruns probe the same sample)
    val freq = left.select(col(key).as("__hk"))
      .filter(col("__hk").isNotNull)
      .sample(withReplacement = false, sampleFraction, seed = 42L)
      .groupBy(col("__hk")).agg(count(lit(1)).as("__n"))
      .persist()
    val stat = freq.agg(
      coalesce(sum(col("__n")), lit(0L)).as("t"),
      count(lit(1)).as("d"),
      coalesce(percentile_approx(col("__n"), lit(0.5), lit(10000)), lit(0L))
        .as("med")).head()
    val total = stat.getLong(0)
    val distinctKeys = stat.getLong(1)
    val median = stat.getLong(2)
    val hotKeys: Array[Any] =
      if (distinctKeys == 0) Array.empty
      else {
        freq.filter(col("__n") >= lit(median * factor) ||
            col("__n") >= lit(total.toDouble / saltBuckets))
          .orderBy(col("__n").desc, col("__hk"))
          .limit(1000)
          .select(col("__hk")).collect().map(_.get(0))
      }
    freq.unpersist()

    if (hotKeys.isEmpty) {
      // no skew: the plain join IS the optimal plan
      left.join(right, Seq(key), "inner")
    } else {
      val isHot = col(key).isin(hotKeys: _*)
      // hot path: salt left hot rows; replicate ONLY the hot-key subset
      // of the right side (at most 1000 keys — broadcastable)
      val leftHot = left.filter(isHot).withColumn("__salt",
        pmod(monotonically_increasing_id(), lit(saltBuckets.toLong)).cast("int"))
      val rightHot = right.filter(isHot).withColumn("__salt",
        explode(lit((0 until saltBuckets).toArray)))
      val hotJoined = leftHot.join(rightHot, Seq(key, "__salt"), "inner")
        .drop("__salt")
      // cold path: plain join of the non-hot remainder
      val coldJoined = left.filter(!isHot).join(
        right.filter(!isHot), Seq(key), "inner")
      hotJoined.unionByName(coldJoined)
    }
  }
}
