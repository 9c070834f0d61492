package graft.models

/**
 * Triple exponential smoothing (Holt-Winters), additive and multiplicative,
 * compatible with R stats::HoltWinters (capability of reference
 * models/HoltWinters.scala:41-325, re-implemented from the published R
 * semantics: level/trend start from a linear regression on the classical-
 * decomposition trend of the first two periods, seasonal start from the
 * decomposition's seasonal figure, one-step forecasts start at t = period+1).
 */
case class HoltWintersModel(period: Int, alpha: Double, beta: Double, gamma: Double,
    additive: Boolean = true) extends TimeSeriesModel {

  /** Run the R-style filter. Returns (SSE, finalLevel, finalTrend, finalSeason). */
  private[models] def run(ts: Array[Double]): (Double, Double, Double, Array[Double]) = {
    val L = period
    require(ts.length >= 2 * L, s"need at least 2 periods ($L) of data, got ${ts.length}")
    val (l0, b0, s0) = HoltWinters.initialState(ts, L, additive)
    runFrom(ts, l0, b0, s0)
  }

  /** The filter with a PRECOMPUTED initial state. `initialState` depends only
    * on (ts, period, additive) — never on (α,β,γ) — so [[HoltWinters.fitModel]]
    * hoists it out of its ~10³-evaluation SSE loop and calls this directly
    * (same arithmetic in the same order: bit-identical to [[run]]). */
  private[models] def runFrom(ts: Array[Double], l0: Double, b0: Double,
      s0: Array[Double]): (Double, Double, Double, Array[Double]) = {
    val n = ts.length
    val L = period
    var level = l0
    var trend = b0
    // season(i) holds the seasonal estimate used at forecast step i; the
    // array is extended as new estimates are produced (R's C filter layout).
    val nSteps = n - L
    val season = new Array[Double](nSteps + L)
    System.arraycopy(s0, 0, season, 0, L)
    var sse = 0.0
    var i = 0
    while (i < nSteps) {
      val x = ts(L + i)
      val xhat = if (additive) level + trend + season(i) else (level + trend) * season(i)
      val err = x - xhat
      sse += err * err
      val newLevel =
        if (additive) alpha * (x - season(i)) + (1 - alpha) * (level + trend)
        else alpha * (x / season(i)) + (1 - alpha) * (level + trend)
      val newTrend = beta * (newLevel - level) + (1 - beta) * trend
      season(i + L) =
        if (additive) gamma * (x - newLevel) + (1 - gamma) * season(i)
        else gamma * (x / newLevel) + (1 - gamma) * season(i)
      level = newLevel
      trend = newTrend
      i += 1
    }
    val lastSeason = new Array[Double](L)
    System.arraycopy(season, nSteps, lastSeason, 0, L)
    (sse, level, trend, lastSeason)
  }

  def sse(ts: Array[Double]): Double = run(ts)._1

  /** SSE only, from a precomputed initial state (the [[HoltWinters.fitModel]]
    * objective): the same accumulation as [[runFrom]] without materializing
    * the final-season copy each evaluation. */
  private[models] def sseFrom(ts: Array[Double], l0: Double, b0: Double,
      s0: Array[Double]): Double = {
    val n = ts.length
    val L = period
    var level = l0
    var trend = b0
    val nSteps = n - L
    val season = new Array[Double](nSteps + L)
    System.arraycopy(s0, 0, season, 0, L)
    var sse = 0.0
    var i = 0
    while (i < nSteps) {
      val x = ts(L + i)
      val xhat = if (additive) level + trend + season(i) else (level + trend) * season(i)
      val err = x - xhat
      sse += err * err
      val newLevel =
        if (additive) alpha * (x - season(i)) + (1 - alpha) * (level + trend)
        else alpha * (x / season(i)) + (1 - alpha) * (level + trend)
      val newTrend = beta * (newLevel - level) + (1 - beta) * trend
      season(i + L) =
        if (additive) gamma * (x - newLevel) + (1 - gamma) * season(i)
        else gamma * (x / newLevel) + (1 - gamma) * season(i)
      level = newLevel
      trend = newTrend
      i += 1
    }
    sse
  }

  /** h-step-ahead forecasts from the end of the series. */
  def forecast(ts: Array[Double], h: Int): Array[Double] = {
    val (_, level, trend, season) = run(ts)
    Array.tabulate(h) { k =>
      val s = season(k % period)
      if (additive) level + (k + 1) * trend + s else (level + (k + 1) * trend) * s
    }
  }

  /** Smoothed one-step-ahead fitted values for the observed range (length n-period). */
  def fitted(ts: Array[Double]): Array[Double] = {
    val n = ts.length
    val out = new Array[Double](n - period)
    val L = period
    val (l0, b0, s0) = HoltWinters.initialState(ts, L, additive)
    var level = l0
    var trend = b0
    val season = new Array[Double]((n - L) + L)
    System.arraycopy(s0, 0, season, 0, L)
    var i = 0
    while (i < n - L) {
      val x = ts(L + i)
      out(i) = if (additive) level + trend + season(i) else (level + trend) * season(i)
      val newLevel =
        if (additive) alpha * (x - season(i)) + (1 - alpha) * (level + trend)
        else alpha * (x / season(i)) + (1 - alpha) * (level + trend)
      val newTrend = beta * (newLevel - level) + (1 - beta) * trend
      season(i + L) =
        if (additive) gamma * (x - newLevel) + (1 - gamma) * season(i)
        else gamma * (x / newLevel) + (1 - gamma) * season(i)
      level = newLevel; trend = newTrend
      i += 1
    }
    out
  }

  /** Deseasonalize/detrend: x minus (or divided by) its fitted value. */
  override def removeTimeDependentEffects(ts: Array[Double]): Array[Double] = {
    val f = fitted(ts)
    Array.tabulate(ts.length) { i =>
      if (i < period) ts(i)
      else if (additive) ts(i) - f(i - period)
      else ts(i) / f(i - period)
    }
  }

  override def addTimeDependentEffects(ts: Array[Double]): Array[Double] = {
    // fitted values depend only on observed history, which remove() preserves
    // step-by-step, so reconstruct forward using the recursion on recovered x.
    val out = ts.clone()
    val L = period
    val n = ts.length
    if (n < 2 * L) return out
    val (l0, b0, s0) = HoltWinters.initialState(out, L, additive)
    var level = l0
    var trend = b0
    val season = new Array[Double]((n - L) + L)
    System.arraycopy(s0, 0, season, 0, L)
    var i = 0
    while (i < n - L) {
      val xhat = if (additive) level + trend + season(i) else (level + trend) * season(i)
      val x = if (additive) ts(L + i) + xhat else ts(L + i) * xhat
      out(L + i) = x
      val newLevel =
        if (additive) alpha * (x - season(i)) + (1 - alpha) * (level + trend)
        else alpha * (x / season(i)) + (1 - alpha) * (level + trend)
      val newTrend = beta * (newLevel - level) + (1 - beta) * trend
      season(i + L) =
        if (additive) gamma * (x - newLevel) + (1 - gamma) * season(i)
        else gamma * (x / newLevel) + (1 - gamma) * season(i)
      level = newLevel; trend = newTrend
      i += 1
    }
    out
  }
}

object HoltWinters {

  /**
   * R-compatible initial state from the first two periods:
   * classical decomposition (centered MA of order L, detrend, per-position
   * seasonal figure), then level/trend from a linear fit on the MA trend.
   */
  private[models] def initialState(ts: Array[Double], L: Int,
      additive: Boolean): (Double, Double, Array[Double]) = {
    val wind = 2 * L
    val x = ts.take(wind)
    // centered moving average of order L (weights 0.5,1,...,1,0.5 for even L)
    val half = L / 2
    val trend = new Array[Double](wind)
    val valid = new Array[Boolean](wind)
    var t = 0
    while (t < wind) {
      if (L % 2 == 0) {
        if (t - half >= 0 && t + half < wind) {
          var s = 0.5 * x(t - half) + 0.5 * x(t + half)
          var j = -half + 1
          while (j <= half - 1) { s += x(t + j); j += 1 }
          trend(t) = s / L
          valid(t) = true
        }
      } else {
        if (t - half >= 0 && t + half < wind) {
          var s = 0.0
          var j = -half
          while (j <= half) { s += x(t + j); j += 1 }
          trend(t) = s / L
          valid(t) = true
        }
      }
      t += 1
    }
    // seasonal figure: per-position average of the detrended series, centered
    val figure = new Array[Double](L)
    val counts = new Array[Int](L)
    t = 0
    while (t < wind) {
      if (valid(t)) {
        val pos = t % L
        val detr = if (additive) x(t) - trend(t) else x(t) / trend(t)
        figure(pos) += detr
        counts(pos) += 1
      }
      t += 1
    }
    var pos = 0
    while (pos < L) {
      figure(pos) = if (counts(pos) > 0) figure(pos) / counts(pos) else (if (additive) 0.0 else 1.0)
      pos += 1
    }
    val figMean = ArrayOps.mean(figure)
    pos = 0
    while (pos < L) {
      figure(pos) = if (additive) figure(pos) - figMean else figure(pos) / figMean
      pos += 1
    }
    // level/trend: OLS of the valid trend values on their 1-based rank
    val dat = (0 until wind).filter(valid).map(trend).toArray
    var sumI = 0.0; var sumY = 0.0; var sumII = 0.0; var sumIY = 0.0
    var i = 0
    while (i < dat.length) {
      val xi = (i + 1).toDouble
      sumI += xi; sumY += dat(i); sumII += xi * xi; sumIY += xi * dat(i)
      i += 1
    }
    val nn = dat.length
    val slope = (nn * sumIY - sumI * sumY) / (nn * sumII - sumI * sumI)
    val inter = (sumY - slope * sumI) / nn
    (inter, slope, figure)
  }

  /**
   * Fit (α,β,γ) on [0,1]³ minimizing the filter SSE: coarse grid scan, then
   * Nelder-Mead refinement with an out-of-bounds penalty. (BOBYQA was the
   * first choice but commons-math's trsbox can spin without consuming
   * evaluations on some series — a stuck optimizer must never hang a 1000-
   * executor job, so the fit uses strictly-bounded-work methods.)
   */
  def fitModel(ts: Array[Double], period: Int,
      modelType: String = "additive"): HoltWintersModel = {
    val additive = modelType.toLowerCase.startsWith("add")
    // the initial state depends only on (ts, period, additive) — compute it
    // ONCE instead of inside every one of the ~1.3k grid + Nelder-Mead SSE
    // evaluations below (it was the per-evaluation hot spot: allocation-heavy
    // vs the ~n-step filter loop). Same require message run() raises, so a
    // too-short series still fails identically from the caller's view.
    require(ts.length >= 2 * period,
      s"need at least 2 periods ($period) of data, got ${ts.length}")
    val (l0, b0, s0) = initialState(ts, period, additive)
    val sse = Fit.penalized(1e18, Array(1e-8, 0.0, 0.0), Array(1.0, 1.0, 1.0))(
      pm => HoltWintersModel(period, pm(0), pm(1), pm(2), additive).sseFrom(ts, l0, b0, s0))
    // coarse grid: 0.1 steps (plus the boundary-hugging 0.999/0.001 corners)
    val gridPts = (0.02 +: (1 to 9).map(_ / 10.0) :+ 0.999)
    var best = Array(0.3, 0.1, 0.1)
    var bestSse = sse.value(best)
    for (a <- gridPts; b <- gridPts; g <- gridPts) {
      val pt = Array(a, b, g)
      val s = sse.value(pt)
      if (s < bestSse) { bestSse = s; best = pt }
    }
    // Nelder-Mead refinement (bounded work, penalty keeps it inside the cube)
    val pm = Fit.nelderMead(sse, best, 0.05, 1e-10, 1e-12, 5000).point
    val clamp = (v: Double) => math.min(math.max(v, 1e-8), 1.0)
    HoltWintersModel(period, clamp(pm(0)), clamp(pm(1)), clamp(pm(2)), additive)
  }
}
