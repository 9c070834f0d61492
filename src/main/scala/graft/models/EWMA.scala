package graft.models

/**
 * Simple exponential smoothing s_0 = x_0; s_t = α·x_t + (1-α)·s_{t-1}
 * (the convention the reference's tests pin — models/EWMA.scala:135-143 /
 * EWMASuite.scala:22-65 — re-implemented; the smoothing parameter is fit by
 * a 1-D Brent search on the one-step-ahead SSE rather than gradient descent).
 */
case class EWMAModel(smoothing: Double) extends TimeSeriesModel {

  /** Smooth: observed series -> smoothed series. */
  override def addTimeDependentEffects(ts: Array[Double]): Array[Double] = {
    val out = new Array[Double](ts.length)
    var t = 0
    while (t < ts.length) {
      out(t) = if (t == 0) ts(0) else smoothing * ts(t) + (1 - smoothing) * out(t - 1)
      t += 1
    }
    out
  }

  /** Exact inverse: recover the original series from its smoothed form. */
  override def removeTimeDependentEffects(ts: Array[Double]): Array[Double] = {
    val out = new Array[Double](ts.length)
    var t = 0
    while (t < ts.length) {
      out(t) = if (t == 0) ts(0) else (ts(t) - (1 - smoothing) * ts(t - 1)) / smoothing
      t += 1
    }
    out
  }

  /** h-step SES forecast: flat at the last smoothed level (the SES
    * forecast function is constant in the horizon). This is THE forecast
    * path [[ModelOps.forecastEwma]] serves and mr03 certifies. */
  def forecast(ts: Array[Double], h: Int): Array[Double] = {
    // smooth once — Array.fill's by-name element would re-run the O(n)
    // pass (and its allocation) per horizon step
    val level = addTimeDependentEffects(ts).last
    Array.fill(h)(level)
  }

  /** Sum of squared one-step-ahead forecast errors Σ (x_t - s_{t-1})². */
  def sse(ts: Array[Double]): Double = {
    var s = ts(0)
    var acc = 0.0
    var t = 1
    while (t < ts.length) {
      val err = ts(t) - s
      acc += err * err
      s = smoothing * ts(t) + (1 - smoothing) * s
      t += 1
    }
    acc
  }
}

object EWMA {
  /** Fit the smoothing parameter by minimizing one-step-ahead SSE on (0,1). */
  def fitModel(ts: Array[Double]): EWMAModel =
    EWMAModel(Fit.brent(a => EWMAModel(a).sse(ts), 1e-6, 1 - 1e-6, 1e-8, 1e-10, 1000).point(0))
}
