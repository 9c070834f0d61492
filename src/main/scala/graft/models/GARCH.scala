package graft.models

import org.apache.commons.math3.random.RandomGenerator

/**
 * GARCH(1,1): ε_t = √h_t · z_t,  h_t = ω + α ε²_{t-1} + β h_{t-1}
 * (capability of reference models/GARCH.scala:26-260, re-implemented:
 * Nelder-Mead inside a penalty box on the exact log-likelihood, with the
 * analytic gradient exposed for diagnostics).
 */
case class GARCHModel(omega: Double, alpha: Double, beta: Double) extends TimeSeriesModel
    with TimeSeriesFilter {

  private def h0(ts: Array[Double]): Double = {
    val denom = 1.0 - alpha - beta
    if (denom > 1e-6) omega / denom else ArrayOps.variance(ts)
  }

  /** Conditional variances h_t given the series. */
  def variances(ts: Array[Double]): Array[Double] = {
    val h = new Array[Double](ts.length)
    var t = 0
    while (t < ts.length) {
      h(t) = if (t == 0) h0(ts)
      else omega + alpha * ts(t - 1) * ts(t - 1) + beta * h(t - 1)
      t += 1
    }
    h
  }

  def logLikelihood(ts: Array[Double]): Double = {
    val h = variances(ts)
    var ll = 0.0
    var t = 0
    while (t < ts.length) {
      ll += -0.5 * (math.log(2 * math.Pi * h(t)) + ts(t) * ts(t) / h(t))
      t += 1
    }
    ll
  }

  /** Analytic gradient of the log-likelihood wrt (ω, α, β). */
  def gradient(ts: Array[Double]): Array[Double] = {
    val n = ts.length
    val h = variances(ts)
    var dw = 0.0; var da = 0.0; var db = 0.0 // dh_t/dθ carried through recursion
    var gw = 0.0; var ga = 0.0; var gb = 0.0
    var t = 1
    while (t < n) {
      val e2 = ts(t - 1) * ts(t - 1)
      dw = 1.0 + beta * dw
      da = e2 + beta * da
      db = h(t - 1) + beta * db
      val w = -0.5 / h(t) + 0.5 * ts(t) * ts(t) / (h(t) * h(t))
      gw += w * dw; ga += w * da; gb += w * db
      t += 1
    }
    Array(gw, ga, gb)
  }

  /** Standardize: residual series z_t = ε_t / √h_t (h from the observed ε). */
  override def removeTimeDependentEffects(ts: Array[Double]): Array[Double] = {
    val hs = variances(ts)
    val out = new Array[Double](ts.length)
    var i = 0
    while (i < ts.length) { out(i) = ts(i) / math.sqrt(hs(i)); i += 1 }
    out
  }

  /** Inverse of standardization: z_t -> ε_t (h recursion on the produced ε). */
  override def addTimeDependentEffects(ts: Array[Double]): Array[Double] = {
    val out = new Array[Double](ts.length)
    var h = 0.0
    var t = 0
    while (t < ts.length) {
      h = if (t == 0) {
        val denom = 1.0 - alpha - beta
        if (denom > 1e-6) omega / denom else omega
      } else omega + alpha * out(t - 1) * out(t - 1) + beta * h
      out(t) = ts(t) * math.sqrt(h)
      t += 1
    }
    out
  }

  def sample(n: Int, rand: RandomGenerator): Array[Double] = {
    val out = new Array[Double](n)
    var h = { val d = 1.0 - alpha - beta; if (d > 1e-6) omega / d else omega }
    var t = 0
    while (t < n) {
      if (t > 0) h = omega + alpha * out(t - 1) * out(t - 1) + beta * h
      out(t) = math.sqrt(h) * rand.nextGaussian()
      t += 1
    }
    out
  }
}

/**
 * AR(1) + GARCH(1,1) composite: x_t = c + φ x_{t-1} + ε_t with GARCH ε
 * (capability of reference ARGARCH, re-implemented).
 */
case class ARGARCHModel(c: Double, phi: Double, alpha: Double, beta: Double,
    omega: Double) extends TimeSeriesModel with TimeSeriesFilter {
  def garch: GARCHModel = GARCHModel(omega, alpha, beta)

  override def removeTimeDependentEffects(ts: Array[Double]): Array[Double] = {
    val resid = new Array[Double](ts.length)
    var t = 0
    while (t < ts.length) {
      resid(t) = if (t == 0) ts(0) - c else ts(t) - c - phi * ts(t - 1)
      t += 1
    }
    garch.removeTimeDependentEffects(resid)
  }

  override def addTimeDependentEffects(ts: Array[Double]): Array[Double] = {
    val eps = garch.addTimeDependentEffects(ts)
    val out = new Array[Double](ts.length)
    var t = 0
    while (t < ts.length) {
      out(t) = if (t == 0) c + eps(0) else c + phi * out(t - 1) + eps(t)
      t += 1
    }
    out
  }

  def sample(n: Int, rand: RandomGenerator): Array[Double] = {
    val eps = garch.sample(n, rand)
    val out = new Array[Double](n)
    var t = 0
    while (t < n) {
      out(t) = if (t == 0) c + eps(0) else c + phi * out(t - 1) + eps(t)
      t += 1
    }
    out
  }
}

object GARCH {
  /** Fit GARCH(1,1) by Nelder-Mead on the log-likelihood with penalty
    * bounds (strictly bounded work per fit — see HoltWinters.fitModel on
    * why BOBYQA is avoided in per-series stages). */
  def fitModel(ts: Array[Double]): GARCHModel = {
    val v = ArrayOps.variance(ts)
    val negLL = Fit.penalized(1e12, Array(1e-10, 0.0, 0.0), Array(v * 10 + 1e-6, 0.999, 0.999))(
      pm => -GARCHModel(pm(0), pm(1), pm(2)).logLikelihood(ts))
    val p = Fit.nelderMead(negLL, Array(v * 0.2, 0.2, 0.5), 0.05, 1e-10, 1e-12, 10000).point
    GARCHModel(p(0), p(1), p(2))
  }
}

object ARGARCH {
  /** AR(1) by OLS, then GARCH(1,1) on the residuals. */
  def fitModel(ts: Array[Double]): ARGARCHModel = {
    val ar = Autoregression.fitModel(ts, 1)
    val resid = ar.removeTimeDependentEffects(ts).drop(1)
    val g = GARCH.fitModel(resid)
    ARGARCHModel(ar.c, ar.coefficients(0), g.alpha, g.beta, g.omega)
  }
}
