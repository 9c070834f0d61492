package graft.models

import org.apache.commons.math3.analysis.MultivariateFunction

/**
 * ARIMAX(p,d,q; xLag): ARIMA with lagged exogenous regressors,
 *   z_t = c + Σ φ_i z_{t-i} + Σ θ_j e_{t-j} + Σ_k Σ_{l=0..xLag} β_{k,l} x_{k,t-l} + e_t
 * where z is the order-d differenced target. The reference's implementation
 * carries known bugs (models/ARIMAX.scala:513-532 — the xreg sum keeps only
 * the last term); this implements the *documented* model (header 28-32) as
 * SURVEY §7.4 requires.
 *
 * Parameter layout: [c?] ++ φ(1..p) ++ θ(1..q) ++ β(col-major blocks of xLag+1).
 */
case class ARIMAXModel(p: Int, d: Int, q: Int, xLag: Int, nXCols: Int,
    params: Array[Double], hasIntercept: Boolean = true) extends Serializable {

  def intercept: Double = if (hasIntercept) params(0) else 0.0
  private def off = if (hasIntercept) 1 else 0
  def arCoefs: Array[Double] = params.slice(off, off + p)
  def maCoefs: Array[Double] = params.slice(off + p, off + p + q)
  def xCoefs(k: Int): Array[Double] =
    params.slice(off + p + q + k * (xLag + 1), off + p + q + (k + 1) * (xLag + 1))

  /** Conditional sum of squares: Σ e_t² over t ≥ max(p, xLag) of the differenced target. */
  def css(z: Array[Double], x: Array[Array[Double]]): Double =
    ARIMAX.cssObjective(p, q, z, x, xLag, nXCols, hasIntercept).value(params)

  /**
   * Forecast future levels given future exogenous rows. `ts` is the observed
   * target, `x` its aligned exogenous matrix, `xFuture` the next rows.
   */
  def forecast(ts: Array[Double], x: Array[Array[Double]],
      xFuture: Array[Array[Double]]): Array[Double] = {
    val n = ts.length
    val h = xFuture.length
    val zest = ArrayOps.diffOfOrder(ts, d).drop(d)
    val (zext, _) = ARMA.forecast(params, hasIntercept, p, q, zest, h, x.drop(d) ++ xFuture,
      xLag, nXCols)
    val full = new Array[Double](n + h)
    var i = 0
    while (i < d) { full(i) = ts(i); i += 1 }
    while (i < n + h) { full(i) = zext(i - d); i += 1 }
    ArrayOps.inverseDiffOfOrder(full, d).takeRight(h)
  }
}

object ARIMAX {
  /** The CSS of ARIMAX(p,·,q; xLag) on the differenced target z and its
    * aligned rows xz, as a function of the parameters: one residual pass
    * into a scratch array owned by the closure, so an evaluation allocates
    * nothing. */
  private[models] def cssObjective(p: Int, q: Int, z: Array[Double], xz: Array[Array[Double]],
      xLag: Int, nXCols: Int, includeIntercept: Boolean): MultivariateFunction = {
    val e = new Array[Double](z.length)
    params => ARMA.residuals(params, includeIntercept, p, q, z, e, xz, xLag, nXCols)
  }

  /**
   * Fit: ARX least squares for the AR+exogenous block, Hannan-Rissanen-style
   * residual regression for the MA block, then joint CSS refinement by
   * bounded BOBYQA (kept here although the other per-series fits use
   * Nelder-Mead: m12 and its frozen digest twin m50 pin its output).
   */
  def fitModel(p: Int, d: Int, q: Int, ts: Array[Double], x: Array[Array[Double]],
      xLag: Int, includeIntercept: Boolean = true): ARIMAXModel = {
    val z = ArrayOps.diffOfOrder(ts, d).drop(d)
    val xz = x.drop(d)
    val nXCols = if (x.isEmpty) 0 else x(0).length
    val nParams = (if (includeIntercept) 1 else 0) + p + q + nXCols * (xLag + 1)

    // stage 1: ARX OLS init (MA terms zero)
    val arx = AutoregressionX.fitModel(z, xz, p, xLag, includeCurrentX = true,
      includeIntercept = includeIntercept)
    val init = new Array[Double](nParams)
    var pos = 0
    if (includeIntercept) { init(0) = arx.c; pos = 1 }
    System.arraycopy(arx.arCoefs, 0, init, pos, p)
    pos += p + q // MA init at zero
    for (k <- 0 until nXCols) {
      System.arraycopy(arx.xCoefs(k), 0, init, pos, xLag + 1)
      pos += xLag + 1
    }

    if (nParams < 2) return ARIMAXModel(p, d, q, xLag, nXCols, init, includeIntercept)

    // stage 2: joint CSS refinement
    val lower = init.map(v => v - math.max(5.0, math.abs(v) * 10))
    val upper = init.map(v => v + math.max(5.0, math.abs(v) * 10))
    val fitted = Fit.bobyqa(Fit.penalized(1e18)(
      cssObjective(p, q, z, xz, xLag, nXCols, includeIntercept)), init, lower, upper, 30000).point
    ARIMAXModel(p, d, q, xLag, nXCols, fitted, includeIntercept)
  }
}
