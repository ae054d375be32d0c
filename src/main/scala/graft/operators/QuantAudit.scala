package graft.operators

/** Boundary-distance audit for the integer-quantization contract
  * (floor(f(x)·1e9 + 0.5) — the t11 nano-nat pattern shared by the
  * LM / BM25 / Naive Bayes families).
  *
  * Hazard (VERDICT r11, the t21 driver incident): when an oracle
  * REPLAYS a `ln`/`cos` quantization in another engine, the two libms
  * can disagree by an ulp; if the pre-floor value sits within that ulp
  * of an integer boundary, the quantized parameter FLIPS between
  * engines and the hash gate reads it as an engine bug. 1 ulp of a
  * double near |v| ∈ [8, 16) is ~1.8e-15, so ulp·1e9 ≈ 2e-6 — the
  * audit margin must clear that.
  *
  * This audit runs AT FIT TIME over every quantized parameter of a
  * model (vocab-bounded relations — the audit is driver-side and
  * free): it logs the minimum distance to the nearest boundary and
  * fails LOUDLY when a parameter lands inside the margin, so a
  * hazardous fit is visible before any cross-engine gate sees it.
  * Queries whose oracle consumes the fitted integers as LITERALS
  * (the PQ-codebook contract — t21 since r12) are immune to the skew
  * by construction; the audit still documents their headroom.
  */
object QuantAudit {

  /** ulp(16)·1e9 ≈ 3.6e-6; parameters with |ln| < 16 (probabilities
    * down to e^-16 ≈ 1e-7) flip within ~2e-6 of a boundary. 1e-5
    * clears that by 3-5× while a uniformly-positioned parameter set of
    * ~1.5k values still passes with ~97% probability — near-misses are
    * meant to be SEEN, not silently absorbed. */
  val Margin: Double = 1e-5

  /** Distance of the pre-floor value to its nearest integer boundary. */
  def distance(pre: Double): Double = {
    val f = pre - math.floor(pre)
    math.min(f, 1.0 - f)
  }

  /** Audit a fitted parameter set. `pres` are the PRE-FLOOR values
    * f(x)·1e9 + 0.5 — exactly what the engine is about to floor.
    * Returns the minimum boundary distance (+inf when empty).
    *
    * `hardFail = true` (replayed-oracle fits) throws inside the margin;
    * `hardFail = false` (literal-contract fits, immune by construction)
    * only logs — the headroom is still recorded per round. */
  def audit(what: String, pres: Iterable[Double],
            hardFail: Boolean = true): Double = {
    var min = Double.PositiveInfinity
    var n = 0
    pres.foreach { p =>
      val d = distance(p)
      if (d < min) min = d
      n += 1
    }
    // one line per fit per round: the near-boundary trend is diffable
    println(f"[graft] quant-audit $what: n=$n min-boundary-dist=$min%.3e margin=$Margin%.1e")
    if (hardFail)
      require(n == 0 || min >= Margin,
        s"[quant-audit $what] a fitted parameter's pre-floor value sits " +
          f"$min%.3e from a floor(f(x)*1e9+0.5) boundary (margin $Margin%.1e): " +
          "cross-engine libm skew can flip the quantized integer and fail " +
          "the hash gate. Move this fit to the literal contract (inline " +
          "the collected parameters into both scoring paths) or refit.")
    min
  }
}
