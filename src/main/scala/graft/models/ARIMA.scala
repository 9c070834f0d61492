package graft.models

import org.apache.commons.math3.analysis.MultivariateFunction
import org.apache.commons.math3.random.RandomGenerator
import org.apache.commons.math3.stat.regression.OLSMultipleLinearRegression

import scala.util.control.NonFatal

/**
 * ARIMA(p,d,q): after order-d differencing,
 *   z_t = c + Σ φ_i z_{t-i} + Σ θ_j e_{t-j} + e_t.
 *
 * Capability of reference models/ARIMA.scala:54-831, re-implemented from the
 * standard CSS (conditional sum of squares) formulation: errors are
 * conditioned to zero for t < p, the likelihood is Gaussian over the n-p
 * conditioned residuals, initial parameters come from Hannan-Rissanen, and
 * the optimum is found by Nelder-Mead inside a penalty box (Brent for a
 * single parameter), through [[Fit]].
 *
 * coefficients layout: [intercept (if hasIntercept)] ++ ar(1..p) ++ ma(1..q).
 */
case class ARIMAModel(p: Int, d: Int, q: Int, coefficients: Array[Double],
    hasIntercept: Boolean = true) extends TimeSeriesModel {

  def intercept: Double = if (hasIntercept) coefficients(0) else 0.0
  def arCoefs: Array[Double] = coefficients.slice(if (hasIntercept) 1 else 0,
    (if (hasIntercept) 1 else 0) + p)
  def maCoefs: Array[Double] = coefficients.takeRight(q)

  /** Conditional-sum-of-squares Gaussian log likelihood on the differenced series. */
  def logLikelihoodCSS(diffed: Array[Double]): Double =
    -ARIMA.cssObjective(p, q, diffed, hasIntercept).value(coefficients)

  /** Log likelihood computed from the raw (undifferenced) series. */
  def logLikelihood(ts: Array[Double]): Double =
    logLikelihoodCSS(ArrayOps.diffOfOrder(ts, d).drop(d))

  def approxAIC(ts: Array[Double]): Double =
    -2.0 * logLikelihood(ts) + 2.0 * (coefficients.length + 1)

  /** remove: observed -> innovations (leading p+d values passed through). */
  override def removeTimeDependentEffects(ts: Array[Double]): Array[Double] = {
    val zest = ArrayOps.diffOfOrder(ts, d).drop(d)
    val e = new Array[Double](zest.length) // CSS: e_t = 0 for t < p
    ARMA.residuals(coefficients, hasIntercept, p, q, zest, e)
    val out = new Array[Double](ts.length)
    var i = 0
    while (i < ts.length) {
      out(i) = if (i < d) ts(i)
      else if (i - d < p) zest(i - d)
      else e(i - d)
      i += 1
    }
    out
  }

  /** add: innovations -> observed series (exact inverse of remove). */
  override def addTimeDependentEffects(ts: Array[Double]): Array[Double] = {
    val n = ts.length
    val zest = new Array[Double](n - d)
    val e = new Array[Double](n - d)
    val c = intercept
    val phi = arCoefs
    val theta = maCoefs
    var t = 0
    while (t < n - d) {
      if (t < p) {
        zest(t) = ts(t + d)
        e(t) = 0.0
      } else {
        var pred = c
        var i = 0
        while (i < p) { pred += phi(i) * zest(t - 1 - i); i += 1 }
        var j = 0
        while (j < q) {
          if (t - 1 - j >= 0) pred += theta(j) * e(t - 1 - j)
          j += 1
        }
        e(t) = ts(t + d)
        zest(t) = pred + e(t)
      }
      t += 1
    }
    val z = new Array[Double](n)
    var i = 0
    while (i < n) { z(i) = if (i < d) ts(i) else zest(i - d); i += 1 }
    ArrayOps.inverseDiffOfOrder(z, d)
  }

  /**
   * Forecast: returns an array of length ts.length + nFuture. The observed
   * region holds 1-step-ahead fitted values (x_t - e_t); the tail holds
   * iterated forecasts with future innovations set to zero, integrated back
   * through the d differencing passes from the actual observed levels.
   */
  def forecast(ts: Array[Double], nFuture: Int): Array[Double] = {
    val n = ts.length
    val zest = ArrayOps.diffOfOrder(ts, d).drop(d)
    val (zext, eext) = ARMA.forecast(coefficients, hasIntercept, p, q, zest, nFuture)
    // integrate the full (carried-d ++ zext) array back to levels
    val full = new Array[Double](n + nFuture)
    var i = 0
    while (i < d) { full(i) = ts(i); i += 1 }
    while (i < n + nFuture) { full(i) = zext(i - d); i += 1 }
    val levels = ArrayOps.inverseDiffOfOrder(full, d)
    // observed region: 1-step-ahead fitted = x_t - e_t (innovation identity)
    val out = new Array[Double](n + nFuture)
    i = 0
    while (i < n) {
      out(i) = if (i < d || i - d < p) ts(i) else ts(i) - eext(i - d)
      i += 1
    }
    while (i < n + nFuture) { out(i) = levels(i); i += 1 }
    out
  }

  /** Simulate: innovations N(0,1) through the ARMA recursion, then integrate. */
  def sample(n: Int, rand: RandomGenerator): Array[Double] = {
    val c = intercept
    val phi = arCoefs
    val theta = maCoefs
    val z = new Array[Double](n)
    val e = new Array[Double](n)
    var t = 0
    while (t < n) {
      e(t) = rand.nextGaussian()
      var v = c + e(t)
      var i = 0
      while (i < p) { if (t - 1 - i >= 0) v += phi(i) * z(t - 1 - i); i += 1 }
      var j = 0
      while (j < q) { if (t - 1 - j >= 0) v += theta(j) * e(t - 1 - j); j += 1 }
      z(t) = v
      t += 1
    }
    ArrayOps.inverseDiffOfOrder(z, d)
  }

  /** Schur–Cohn test by the Levinson–Durbin step-down: every root of
    * 1 − Σ a_j z^j lies outside the unit circle iff every reflection
    * coefficient κ = a_m(m), m = k … 1, has |κ| < 1. A ±Inf coefficient
    * leaves an Inf or NaN κ on the way down, so the test is false. */
  private def rootsOutsideUnitCircle(coefs: Array[Double]): Boolean = {
    require(!coefs.exists(_.isNaN), "NaN polynomial coefficient")
    var a = coefs
    var m = a.length
    while (m > 0) {
      val kappa = a(m - 1)
      if (!(math.abs(kappa) < 1.0)) return false
      val s = 1.0 - kappa * kappa
      val prev = a
      a = Array.tabulate(m - 1)(i => (prev(i) + kappa * prev(m - 2 - i)) / s)
      m -= 1
    }
    true
  }

  /** AR polynomial 1 − Σ φ_i z^i has all roots outside the unit circle. */
  def isStationary: Boolean = rootsOutsideUnitCircle(arCoefs)
  /** MA polynomial 1 + Σ θ_j z^j (the sign the ARMA recursion uses) has all
    * roots outside the unit circle. */
  def isInvertible: Boolean = rootsOutsideUnitCircle(maCoefs.map(-_))
}

object ARIMA {

  /** Hannan-Rissanen two-stage initial estimates on the differenced series. */
  private[models] def hannanRissanenInit(z: Array[Double], p: Int, q: Int,
      includeIntercept: Boolean): Array[Double] = {
    val nParams = (if (includeIntercept) 1 else 0) + p + q
    val k = math.max(1, p + q) // long-AR order for residual proxies
    if (z.length < k + q + math.max(p, k + q) + 5) {
      // series too short for the two-stage fit: fall back to zeros + mean
      val out = new Array[Double](nParams)
      if (includeIntercept) out(0) = ArrayOps.mean(z)
      return out
    }
    val longAr = Autoregression.fitModel(z, k)
    val ehat = longAr.removeTimeDependentEffects(z) // first k entries are z itself
    val start = math.max(p, k + q)
    val rows = z.length - start
    val y = new Array[Double](rows)
    val x = Array.ofDim[Double](rows, p + q)
    var r = 0
    while (r < rows) {
      val t = start + r
      y(r) = z(t)
      var i = 0
      while (i < p) { x(r)(i) = z(t - 1 - i); i += 1 }
      var j = 0
      while (j < q) { x(r)(p + j) = ehat(t - 1 - j); j += 1 }
      r += 1
    }
    try {
      val ols = new OLSMultipleLinearRegression()
      ols.setNoIntercept(!includeIntercept)
      ols.newSampleData(y, x)
      ols.estimateRegressionParameters()
    } catch {
      case NonFatal(_) =>
        val out = new Array[Double](nParams)
        if (includeIntercept) out(0) = ArrayOps.mean(z)
        out
    }
  }

  /** The negative CSS log likelihood of ARIMA(p,·,q) on the differenced
    * series z, as a function of the coefficients: one residual pass into a
    * scratch array owned by the closure, so an evaluation allocates nothing. */
  private[models] def cssObjective(p: Int, q: Int, z: Array[Double],
      includeIntercept: Boolean): MultivariateFunction = {
    val e = new Array[Double](z.length)
    params => -gaussianCSS(ARMA.residuals(params, includeIntercept, p, q, z, e), z.length - p)
  }

  /** CSS Gaussian log likelihood of m conditioned residuals whose squares sum to ss. */
  private def gaussianCSS(ss: Double, m: Int): Double = {
    val sigma2 = ss / m
    -0.5 * m * (math.log(2 * math.Pi * sigma2) + 1.0)
  }

  /**
   * Fit ARIMA(p,d,q) by maximizing the CSS likelihood: a Brent search for a
   * single parameter, otherwise Nelder-Mead inside a penalty box (strictly
   * bounded work per fit, which matters when thousands of fits run inside
   * one Spark stage). A Nelder-Mead fit that fails or runs out of
   * evaluations keeps the Hannan-Rissanen estimate.
   */
  def fitModel(p: Int, d: Int, q: Int, ts: Array[Double],
      includeIntercept: Boolean = true): ARIMAModel = {
    val z = ArrayOps.diffOfOrder(ts, d).drop(d)
    val nParams = (if (includeIntercept) 1 else 0) + p + q
    if (nParams == 0) return ARIMAModel(p, d, q, Array.empty, includeIntercept)
    val init = hannanRissanenInit(z, p, q, includeIntercept)
    val negLL = cssObjective(p, q, z, includeIntercept)

    val fitted: Array[Double] =
      if (nParams == 1) {
        val f = Fit.penalized(1e12)(negLL)
        val span = math.max(5.0, math.abs(init(0)) * 3)
        val point = new Array[Double](1)
        Fit.brent(a => { point(0) = a; f.value(point) }, init(0) - span, init(0) + span,
          1e-9, 1e-11, 2000).point
      } else {
        val lower = new Array[Double](nParams)
        val upper = new Array[Double](nParams)
        var i = 0
        while (i < nParams) {
          val isIntercept = includeIntercept && i == 0
          if (isIntercept) {
            val span = math.max(10.0, math.abs(init(0)) * 10)
            lower(i) = init(0) - span; upper(i) = init(0) + span
          } else { lower(i) = -5.0; upper(i) = 5.0 }
          i += 1
        }
        val start = init.clone()
        i = 0
        while (i < nParams) {
          start(i) = math.min(math.max(start(i), lower(i) + 1e-6), upper(i) - 1e-6)
          i += 1
        }
        // rel 1e-7 converges well past the coefficient accuracy anyone
        // reads off a CSS fit and halves the evaluation count vs 1e-10
        val r = Fit.nelderMead(Fit.penalized(1e12, lower, upper)(negLL), start, 0.1,
          1e-7, 1e-9, 20000)
        if (r.status == Fit.Status.Converged) r.point else init
      }
    ARIMAModel(p, d, q, fitted, includeIntercept)
  }

  /**
   * Hyndman-Khandakar-style stepwise order selection: d via repeated KPSS
   * tests, then a local (p,q,intercept) neighborhood search minimizing
   * approximate AIC over stationary+invertible fits
   * (capability of reference ARIMA.autoFit, models/ARIMA.scala:280-375).
   */
  def autoFit(ts: Array[Double], maxP: Int = 5, maxQ: Int = 5, maxD: Int = 2): ARIMAModel = {
    var d = 0
    var cur = ts
    while (d < maxD && !graft.stats.StatTests.kpssLevelStationary(cur.drop(d), 0.05)) {
      d += 1
      cur = ArrayOps.diffOfOrder(ts, d)
    }

    def tryFit(p: Int, q: Int, ic: Boolean): Option[(ARIMAModel, Double)] =
      try {
        val m = fitModel(p, d, q, ts, includeIntercept = ic)
        if (m.isStationary && m.isInvertible) Some((m, m.approxAIC(ts))) else None
      } catch { case NonFatal(_) => None }

    val seeds = Seq((2, 2), (0, 0), (1, 0), (0, 1))
    var best: Option[(ARIMAModel, Double)] = None
    for ((p, q) <- seeds; ic <- Seq(true, false)) {
      val f = tryFit(math.min(p, maxP), math.min(q, maxQ), ic)
      if (f.isDefined && (best.isEmpty || f.get._2 < best.get._2)) best = f
    }
    var improved = true
    while (improved && best.isDefined) {
      improved = false
      val (bm, baic) = best.get
      val neighbors = for {
        dp <- Seq(-1, 0, 1); dq <- Seq(-1, 0, 1)
        if !(dp == 0 && dq == 0)
        np = bm.p + dp; nq = bm.q + dq
        if np >= 0 && np <= maxP && nq >= 0 && nq <= maxQ
        ic <- Seq(bm.hasIntercept, !bm.hasIntercept)
      } yield (np, nq, ic)
      for ((np, nq, ic) <- neighbors.distinct) {
        val f = tryFit(np, nq, ic)
        if (f.isDefined && f.get._2 < best.get._2 - 1e-9) { best = f; improved = true }
      }
    }
    best.map(_._1).getOrElse(fitModel(1, d, 0, ts))
  }
}

/**
 * The one ARMA recursion of ARIMA and ARIMAX, over parameters laid out
 * [c?] ++ φ(1..p) ++ θ(1..q) ++ β (ARIMAX: `nXCols` blocks of xLag+1). The
 * prediction at t sums, in this order: c; then, if `x` is given,
 * Σ_k Σ_l β_{k,l}·x(t−l)(k) summed from 0.0; then φ_i·z(t−1−i); then
 * θ_j·e(t−1−j); a lag before the series start is skipped. The residual
 * pass allocates nothing, so a fit's objective reuses one scratch array.
 * `addTimeDependentEffects` and `sample` keep their own loops: they add
 * e(t) at another point of the sum.
 */
private[models] object ARMA {

  /** e(t) = z(t) − pred(t) for t ≥ max(p, xLag), the CSS start; e below it
    * is left as it stands (0 in a fresh array). Returns Σ e(t)² in t order. */
  def residuals(params: Array[Double], hasIntercept: Boolean, p: Int, q: Int,
      z: Array[Double], e: Array[Double],
      x: Array[Array[Double]] = null, xLag: Int = 0, nXCols: Int = 0): Double =
    run(params, hasIntercept, p, q, x, xLag, nXCols, z, e, math.max(p, xLag), z.length,
      extend = false)

  /** `zest` followed by h iterated predictions (future innovations 0), and
    * its residuals. `x`, if given, holds rows for all zest.length + h steps. */
  def forecast(params: Array[Double], hasIntercept: Boolean, p: Int, q: Int,
      zest: Array[Double], h: Int, x: Array[Array[Double]] = null, xLag: Int = 0,
      nXCols: Int = 0): (Array[Double], Array[Double]) = {
    val z = java.util.Arrays.copyOf(zest, zest.length + h)
    val e = new Array[Double](z.length)
    run(params, hasIntercept, p, q, x, xLag, nXCols, z, e, math.max(p, xLag), zest.length,
      extend = false)
    run(params, hasIntercept, p, q, x, xLag, nXCols, z, e, zest.length, z.length, extend = true)
    (z, e)
  }

  /** Over t in [from, until): the residual pass sets e(t) = z(t) − pred and
    * sums its squares; the extension sets z(t) = pred and e(t) = 0. */
  private def run(params: Array[Double], hasIntercept: Boolean, p: Int, q: Int,
      x: Array[Array[Double]], xLag: Int, nXCols: Int, z: Array[Double], e: Array[Double],
      from: Int, until: Int, extend: Boolean): Double = {
    val c = if (hasIntercept) params(0) else 0.0
    val ar = if (hasIntercept) 1 else 0
    val ma = ar + p
    val beta = ma + q
    var ss = 0.0
    // e(t−1) rides in a local: the recursion is latency-bound, and a store
    // and reload through the array would sit on its critical path
    var ePrev = if (from >= 1 && from < until) e(from - 1) else 0.0
    var t = from
    while (t < until) {
      var pred = c
      if (x != null) {
        var v = 0.0
        var k = 0
        while (k < nXCols) {
          var l = 0
          while (l <= xLag) {
            if (t - l >= 0) v += params(beta + k * (xLag + 1) + l) * x(t - l)(k)
            l += 1
          }
          k += 1
        }
        pred += v
      }
      var i = 0
      while (i < p) { if (t - 1 - i >= 0) pred += params(ar + i) * z(t - 1 - i); i += 1 }
      if (q > 0 && t >= 1) pred += params(ma) * ePrev
      var j = 1
      while (j < q) { if (t - 1 - j >= 0) pred += params(ma + j) * e(t - 1 - j); j += 1 }
      if (extend) { z(t) = pred; ePrev = 0.0 }
      else { ePrev = z(t) - pred; ss += ePrev * ePrev }
      e(t) = ePrev
      t += 1
    }
    ss
  }
}
