package graft.models

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

  /** Exogenous contribution at time t (x indexed on the differenced timeline). */
  private def exog(x: Array[Array[Double]], t: Int): Double = {
    var v = 0.0
    var k = 0
    while (k < nXCols) {
      val beta = xCoefs(k)
      var l = 0
      while (l <= xLag) {
        if (t - l >= 0) v += beta(l) * x(t - l)(k)
        l += 1
      }
      k += 1
    }
    v
  }

  /** CSS residuals on the differenced target with exogenous terms. */
  private[models] def cssResiduals(z: Array[Double], x: Array[Array[Double]]): Array[Double] = {
    val e = new Array[Double](z.length)
    val start = math.max(p, xLag)
    var t = start
    while (t < z.length) {
      var pred = intercept + exog(x, t)
      var i = 0
      while (i < p) { pred += arCoefs(i) * z(t - 1 - i); i += 1 }
      var j = 0
      while (j < q) { if (t - 1 - j >= 0) pred += maCoefs(j) * e(t - 1 - j); j += 1 }
      e(t) = z(t) - pred
      t += 1
    }
    e
  }

  def css(z: Array[Double], x: Array[Array[Double]]): Double = {
    val e = cssResiduals(z, x)
    var s = 0.0
    var t = math.max(p, xLag)
    while (t < z.length) { s += e(t) * e(t); t += 1 }
    s
  }

  /**
   * Forecast future levels given future exogenous rows. `ts` is the observed
   * target, `x` its aligned exogenous matrix, `xFuture` the next rows.
   */
  def forecast(ts: Array[Double], x: Array[Array[Double]],
      xFuture: Array[Array[Double]]): Array[Double] = {
    val n = ts.length
    val h = xFuture.length
    val z = ArrayOps.diffOfOrder(ts, d)
    val zest = z.drop(d)
    val xAll = (x.drop(d) ++ xFuture)
    val e = cssResiduals(zest, x.drop(d))
    val zext = new Array[Double](zest.length + h)
    val eext = new Array[Double](zest.length + h)
    System.arraycopy(zest, 0, zext, 0, zest.length)
    System.arraycopy(e, 0, eext, 0, e.length)
    var t = zest.length
    while (t < zext.length) {
      var pred = intercept + exog(xAll, t)
      var i = 0
      while (i < p) { if (t - 1 - i >= 0) pred += arCoefs(i) * zext(t - 1 - i); i += 1 }
      var j = 0
      while (j < q) { if (t - 1 - j >= 0) pred += maCoefs(j) * eext(t - 1 - j); j += 1 }
      zext(t) = pred
      t += 1
    }
    val full = new Array[Double](n + h)
    var i = 0
    while (i < d) { full(i) = ts(i); i += 1 }
    while (i < n + h) { full(i) = zext(i - d); i += 1 }
    ArrayOps.inverseDiffOfOrder(full, d).takeRight(h)
  }
}

object ARIMAX {
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
      pm => ARIMAXModel(p, d, q, xLag, nXCols, pm, includeIntercept).css(z, xz)),
      init, lower, upper, 30000).point
    ARIMAXModel(p, d, q, xLag, nXCols, fitted, includeIntercept)
  }
}
