package graft.models

import org.apache.commons.math3.stat.regression.OLSMultipleLinearRegression

/**
 * Regression with AR(1) errors fit by Cochrane-Orcutt iteration
 * (capability of reference models/RegressionARIMA.scala:34-177,
 * re-implemented): iterate OLS → estimate ρ from the residual lag-1
 * regression → quasi-difference (y_t - ρ y_{t-1}, X likewise) → refit,
 * until ρ converges or maxIter.
 */
case class RegressionARIMAModel(beta: Array[Double], rho: Double, iterations: Int)
    extends Serializable {
  /** beta(0) is the intercept on the *original* (untransformed) scale. */
  def predict(x: Array[Array[Double]]): Array[Double] =
    x.map { row =>
      var v = beta(0)
      var j = 0
      while (j < row.length) { v += beta(j + 1) * row(j); j += 1 }
      v
    }
}

object RegressionARIMA {

  def fitCochraneOrcutt(y: Array[Double], x: Array[Array[Double]],
      maxIter: Int = 20, tol: Double = 1e-6): RegressionARIMAModel = {
    val n = y.length
    var rho = 0.0
    var prevRho = Double.MaxValue
    var beta: Array[Double] = null
    var iter = 0

    // initial OLS
    val ols0 = new OLSMultipleLinearRegression()
    ols0.newSampleData(y, x)
    beta = ols0.estimateRegressionParameters()
    var resid = ols0.estimateResiduals()

    while (iter < maxIter && math.abs(rho - prevRho) > tol) {
      prevRho = rho
      // rho from residual lag-1 regression (no intercept)
      var num = 0.0; var den = 0.0
      var t = 1
      while (t < resid.length) { num += resid(t) * resid(t - 1); den += resid(t - 1) * resid(t - 1); t += 1 }
      rho = if (den > 0) num / den else 0.0
      // quasi-differenced regression
      val yStar = Array.tabulate(n - 1)(i => y(i + 1) - rho * y(i))
      val xStar = Array.tabulate(n - 1)(i =>
        Array.tabulate(x(0).length)(j => x(i + 1)(j) - rho * x(i)(j)))
      val ols = new OLSMultipleLinearRegression()
      ols.newSampleData(yStar, xStar)
      val bStar = ols.estimateRegressionParameters()
      // transform the intercept back to the original scale
      beta = bStar.clone()
      beta(0) = bStar(0) / (1.0 - rho)
      // residuals on the original scale for the next rho estimate
      resid = Array.tabulate(n) { t =>
        var pred = beta(0)
        var j = 0
        while (j < x(0).length) { pred += beta(j + 1) * x(t)(j); j += 1 }
        y(t) - pred
      }
      iter += 1
    }
    RegressionARIMAModel(beta, rho, iter)
  }
}
