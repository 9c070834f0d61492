package graft.models

import org.apache.commons.math3.random.RandomGenerator

/**
 * EGARCH(1,1) — Nelson (1991) exponential GARCH:
 *
 *   ε_t = √h_t · z_t,   z_t ~ N(0,1)
 *   ln h_t = ω + β·ln h_{t−1} + α·(|z_{t−1}| − √(2/π)) + γ·z_{t−1}
 *
 * The log-variance recursion needs no positivity constraints (h_t > 0 by
 * construction) and the γ term captures the leverage asymmetry GARCH
 * cannot (negative shocks raising variance more than positive ones).
 *
 * The reference declares an EGARCHModel but every method throws
 * UnsupportedOperationException and no fit exists (reference
 * models/GARCH.scala:262-283, citing the same Nelson formulation); this is
 * a full implementation of the published model, not a port — fit, exact
 * log-likelihood, simulation, and the add/remove-effects inverse pair.
 *
 * ln h_0 is initialized at the unconditional mean ω/(1−β) (the recursion's
 * fixed point at z = 0), the same convention as GARCHModel's h0.
 */
case class EGARCHModel(omega: Double, alpha: Double, gamma: Double,
    beta: Double) extends TimeSeriesModel with TimeSeriesFilter {

  private val eAbsZ = math.sqrt(2.0 / math.Pi) // E|z| for standard normal

  private def lh0: Double =
    if (math.abs(1.0 - beta) > 1e-8) omega / (1.0 - beta) else 0.0

  /** ln h_t given the observed series (one forward pass). */
  def logVariances(ts: Array[Double]): Array[Double] = {
    val lh = new Array[Double](ts.length)
    var t = 0
    while (t < ts.length) {
      if (t == 0) lh(t) = lh0
      else {
        val z = ts(t - 1) / math.exp(lh(t - 1) / 2)
        lh(t) = omega + beta * lh(t - 1) + alpha * (math.abs(z) - eAbsZ) + gamma * z
      }
      t += 1
    }
    lh
  }

  /** Exact Gaussian log-likelihood. */
  def logLikelihood(ts: Array[Double]): Double = {
    val lh = logVariances(ts)
    var ll = 0.0
    var t = 0
    while (t < ts.length) {
      ll += -0.5 * (math.log(2 * math.Pi) + lh(t) + ts(t) * ts(t) / math.exp(lh(t)))
      t += 1
    }
    ll
  }

  /** ε_t → z_t (standardized innovations). */
  override def removeTimeDependentEffects(ts: Array[Double]): Array[Double] = {
    val lh = logVariances(ts)
    Array.tabulate(ts.length)(t => ts(t) / math.exp(lh(t) / 2))
  }

  /** z_t → ε_t — exact inverse of remove: the variance recursion is driven
    * by the RECONSTRUCTED past ε, so add ∘ remove = identity. */
  override def addTimeDependentEffects(ts: Array[Double]): Array[Double] = {
    val out = new Array[Double](ts.length)
    var lh = lh0
    var t = 0
    while (t < ts.length) {
      if (t > 0) {
        val z = out(t - 1) / math.exp(lh / 2)
        lh = omega + beta * lh + alpha * (math.abs(z) - eAbsZ) + gamma * z
      }
      out(t) = ts(t) * math.exp(lh / 2)
      t += 1
    }
    out
  }

  /** Simulate n observations (50-step burn-in, like ARModel.sample). */
  def sample(n: Int, rand: RandomGenerator): Array[Double] = {
    val burn = 50
    val out = new Array[Double](n + burn)
    var lh = lh0
    var zPrev = 0.0
    var t = 0
    while (t < out.length) {
      if (t > 0) lh = omega + beta * lh + alpha * (math.abs(zPrev) - eAbsZ) + gamma * zPrev
      val z = rand.nextGaussian()
      out(t) = z * math.exp(lh / 2)
      zPrev = z
      t += 1
    }
    out.drop(burn)
  }
}

object EGARCH {
  /** Fit EGARCH(1,1) by Nelder-Mead on the exact log-likelihood in a
    * smooth UNCONSTRAINED parametrization (β = .999·tanh, α/γ = 2·tanh) —
    * penalty walls made the raw-space simplex crawl along the boundary to
    * MaxEval on short noisy series (the per-key lift is thousands of fits);
    * the tanh map keeps every iterate feasible with no discontinuity, so
    * convergence is the ~1-2k evaluations the smooth surface needs. */
  def fitModel(ts: Array[Double]): EGARCHModel = {
    val lv = math.log(math.max(ArrayOps.variance(ts), 1e-12))
    def unpack(p: Array[Double]): EGARCHModel = EGARCHModel(
      p(0), 2.0 * math.tanh(p(1)), 2.0 * math.tanh(p(2)), 0.999 * math.tanh(p(3)))
    // ω sanity box only; α, γ and β are free in the tanh parametrization
    val wb = math.abs(lv) + 16
    val inf = Double.PositiveInfinity
    val negLL = Fit.penalized(1e12, Array(-wb, -inf, -inf, -inf), Array(wb, inf, inf, inf))(
      pm => -unpack(pm).logLikelihood(ts))
    def atanh(x: Double) = 0.5 * math.log((1 + x) / (1 - x))
    val init = Array(lv * 0.1, atanh(0.1 / 2), atanh(-0.05 / 2), atanh(0.9 / 0.999))
    val p = Fit.nelderMead(negLL, init, 0.05, 1e-8, 1e-9, 4000).point
    unpack(p)
  }
}
