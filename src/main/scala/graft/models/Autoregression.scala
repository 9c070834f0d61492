package graft.models

import org.apache.commons.math3.random.RandomGenerator
import org.apache.commons.math3.stat.regression.OLSMultipleLinearRegression

/**
 * AR(p) model x_t = c + Σ φ_i x_{t-i} + ε_t
 * (capability of reference models/Autoregression.scala:24-96, re-implemented:
 * OLS on the trimmed lag matrix via commons-math3).
 */
case class ARModel(c: Double, coefficients: Array[Double]) extends TimeSeriesModel
    with TimeSeriesFilter {
  private val p = coefficients.length

  /** residuals: first p entries passed through unchanged so that
    * add ∘ remove = identity. */
  override def removeTimeDependentEffects(ts: Array[Double]): Array[Double] = {
    val out = ts.clone()
    ARMA.residuals(c +: coefficients, hasIntercept = true, p, 0, ts, out)
    out
  }

  override def addTimeDependentEffects(ts: Array[Double]): Array[Double] = {
    val out = new Array[Double](ts.length)
    var t = 0
    while (t < ts.length) {
      if (t < p) out(t) = ts(t)
      else {
        var pred = c
        var i = 0
        while (i < p) { pred += coefficients(i) * out(t - 1 - i); i += 1 }
        out(t) = ts(t) + pred
      }
      t += 1
    }
    out
  }

  /** Simulate n steps driven by standard-normal innovations. */
  def sample(n: Int, rand: RandomGenerator): Array[Double] = {
    val burn = 50 + p
    val x = new Array[Double](n + burn)
    var t = 0
    while (t < x.length) {
      var v = c + rand.nextGaussian()
      var i = 0
      while (i < p && t - 1 - i >= 0) { v += coefficients(i) * x(t - 1 - i); i += 1 }
      x(t) = v
      t += 1
    }
    x.drop(burn)
  }
}

object Autoregression {
  /** Fit AR(p) by least squares of x_t on [x_{t-1}..x_{t-p}]. */
  def fitModel(ts: Array[Double], p: Int, includeIntercept: Boolean = true): ARModel = {
    val y = ts.drop(p)
    val x = ArrayOps.lagMatrix(ts, p)
    val ols = new OLSMultipleLinearRegression()
    ols.setNoIntercept(!includeIntercept)
    ols.newSampleData(y, x)
    val params = ols.estimateRegressionParameters()
    if (includeIntercept) ARModel(params(0), params.drop(1))
    else ARModel(0.0, params)
  }
}
