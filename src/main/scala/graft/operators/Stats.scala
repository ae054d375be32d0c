package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exact-integer measurement statistics shared by the tuning sweeps —
  * generic over WHICH proportion is being bounded: d32 applies it to
  * the LSH banding sweep's recall/precision, e25 to the ANN operating
  * grid's recall. Lives outside [[Dedup]]/[[Similarity]] because the
  * contract (state uncertainty next to every sampled point estimate,
  * in arithmetic both engines replay bit-for-bit) is family-neutral. */
object Stats {

  /** ln(2/0.05)·1e9, rounded UP — the pinned integer constant behind
    * [[withHoeffdingPpm]]'s 95% bound. The ceiling direction
    * means constant rounding can only WIDEN the interval, never
    * narrow coverage. */
  val HoeffdingLn40NanoCeil: Long = 3688879455L

  /** EXACT-INTEGER two-sided confidence bounds on a ppm proportion —
    * a sweep run on a SAMPLE (d29's samplePpm, e25's bounded query
    * set) reports estimates, and a tuning decision should see the
    * uncertainty next to each point. This appends `loCol`/`hiCol`
    * around an existing floor-ppm estimate
    * `phatCol = 1e6·hits div trials`:
    *
    *   hw = ceil( 1e6 · sqrt( ln(2/α) / (2·trials) ) )   (Hoeffding)
    *   lo = max(0, phat − hw),  hi = min(1e6, phat + hw + 1)
    *
    * Hoeffding rather than Clopper–Pearson BY DESIGN: the exact
    * binomial interval needs incomplete-beta inversion, which no
    * engine replays in exact arithmetic — a gate built on it would
    * reintroduce the cross-engine float hazard the t31/e24 fixes
    * removed. Hoeffding's only transcendental is ln(2/α), pinned here
    * as the integer nano constant [[HoeffdingLn40NanoCeil]] (rounded
    * UP, so the interval only ever widens); everything else is exact:
    * hw is the exact rational ceil-sqrt — the smallest integer s with
    * s²·2·trials >= 1000·lnNano, found by [[graft.expressions
    * .MathExpressions.isqrtDec]] (pure-integer Newton, zero libm) on
    * the floored quotient plus an integer CASE step — and the `+1` on
    * `hi` covers the floor quantization of phat itself (true
    * 1e6·p̂ <= phat+1), so the stated interval CONTAINS the real-valued
    * Hoeffding interval at every row. trials = 0 yields the vacuous
    * [0, 1e6]. The bound is distribution-free and conservative
    * (coverage >= 1−α), and every engine computing these columns from
    * the same integers gets the same bounds bit-for-bit.
    *
    * Overflow audit (long arithmetic throughout, ANSI-safe): with
    * A = 1000·lnNano ≈ 3.7e12, s0² ≤ A div (2t) so s0²·2t ≤ A, and
    * (s0+2)²·2t ≤ A + 4·sqrt(A·2t) + 8t — inside 2^63 for any
    * trials < ~1e17. */
  def withHoeffdingPpm(df: DataFrame, phatCol: String, trialsCol: String,
                       loCol: String, hiCol: String): DataFrame = {
    val a = 1000L * HoeffdingLn40NanoCeil
    val q = s"__${loCol}_q"
    val s0 = s"__${loCol}_s0"
    val hw = s"__${loCol}_hw"
    df
      .withColumn(q, expr(
        s"CASE WHEN $trialsCol > 0 THEN ${a}L div (2 * $trialsCol) ELSE 0L END"))
      .withColumn(s0, graft.expressions.MathExpressions
        .isqrtDec(col(q).cast(DecimalType(38, 0)))
        .cast(LongType))
      .withColumn(hw, expr(
        s"""CASE WHEN $trialsCol = 0 THEN 1000000L
           |  WHEN $s0 * $s0 * 2 * $trialsCol >= ${a}L THEN $s0
           |  WHEN ($s0 + 1) * ($s0 + 1) * 2 * $trialsCol >= ${a}L
           |    THEN $s0 + 1
           |  ELSE $s0 + 2 END""".stripMargin))
      .withColumn(loCol, expr(
        s"CASE WHEN $trialsCol = 0 THEN 0L " +
          s"ELSE greatest(0L, $phatCol - $hw) END"))
      .withColumn(hiCol, expr(
        s"CASE WHEN $trialsCol = 0 THEN 1000000L " +
          s"ELSE least(1000000L, $phatCol + $hw + 1) END"))
      .drop(q, s0, hw)
  }
}
