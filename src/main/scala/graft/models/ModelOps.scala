package graft.models

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Row shapes for the per-key model lifts (stable Encoders). */
case class KeyedPoint(key: String, ts: Long, value: Double)
case class ArimaFit(key: String, p: Int, d: Int, q: Int,
    coefficients: Seq[Double], logLikelihood: Double, aic: Double,
    stationary: Boolean, invertible: Boolean)
case class EwmaFit(key: String, smoothing: Double, sse: Double)
case class GarchFit(key: String, omega: Double, alpha: Double, beta: Double,
    logLikelihood: Double)
case class EgarchFit(key: String, omega: Double, alpha: Double, gamma: Double,
    beta: Double, logLikelihood: Double)
case class ArFit(key: String, c: Double, coefficients: Seq[Double])
case class HoltWintersFit(key: String, period: Int, alpha: Double, beta: Double,
    gamma: Double, sse: Double)
case class ForecastPoint(key: String, step: Int, ts: Long, value: Double)
case class TestResult(key: String, statistic: Double, pValue: Double)
case class SmoothedPoint(key: String, ts: Long, smoothed: Double)
case class HoltPoint(key: String, ts: Long, level: Double, trend: Double)
case class DwResult(key: String, dw: Double)
case class FilteredPoint(key: String, ts: Long, residual: Double)
case class ArxFit(key: String, c: Double, arCoefs: Seq[Double], xCoefs: Seq[Double])
case class MannKendallResult(key: String, s: Long, nPairs: Long, tau: Double,
    varS: Double, z: Double)

/**
 * DataFrame lift of the model kernels: every fit is embarrassingly parallel
 * per key, so it runs as one `groupByKey(key).mapGroups` — a single shuffle
 * on the series key, whole fits executor-local, no driver involvement
 * (SURVEY §2.8's "per-series iterative estimation" pattern; at 100 TB each
 * task carries one series, matching the reference's design assumption that a
 * single series fits in memory).
 */
object ModelOps {

  /** Gather (key, ts, value) rows into per-key time-ordered value arrays. */
  private def grouped(df: DataFrame, key: String, ts: String, value: String)
      : Dataset[(String, Array[Double])] = {
    val spark = df.sparkSession
    import spark.implicits._
    // null observations (e.g. a try_divide-null return rate on a zero base)
    // are dropped: a missing point cannot participate in a per-series fit,
    // and the non-nullable KeyedPoint encoder would throw on it
    df.filter(col(value).isNotNull)
      .select(col(key).cast("string").as("key"), col(ts).cast("long").as("ts"),
        col(value).cast("double").as("value"))
      .as[KeyedPoint]
      .groupByKey(_.key)
      .mapGroups { (k, it) =>
        val arr = it.toArray.sortBy(_.ts).map(_.value)
        (k, arr)
      }
  }

  /** Per-key (ts, value) pairs preserving timestamps (for forecasts). */
  private def groupedWithTs(df: DataFrame, key: String, ts: String, value: String)
      : Dataset[(String, Array[Long], Array[Double])] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.filter(col(value).isNotNull)
      .select(col(key).cast("string").as("key"), col(ts).cast("long").as("ts"),
        col(value).cast("double").as("value"))
      .as[KeyedPoint]
      .groupByKey(_.key)
      .mapGroups { (k, it) =>
        val pts = it.toArray.sortBy(_.ts)
        (k, pts.map(_.ts), pts.map(_.value))
      }
  }

  def fitArima(df: DataFrame, p: Int, d: Int, q: Int, key: String = "key",
      ts: String = "ts_nanos", value: String = "value",
      includeIntercept: Boolean = true): Dataset[ArimaFit] = {
    val spark = df.sparkSession
    import spark.implicits._
    grouped(df, key, ts, value).flatMap { case (k, arr) =>
      try {
        val m = ARIMA.fitModel(p, d, q, arr, includeIntercept)
        Some(ArimaFit(k, p, d, q, m.coefficients.toSeq, m.logLikelihood(arr),
          m.approxAIC(arr), m.isStationary, m.isInvertible))
      } catch { case _: Throwable => None } // a degenerate series must not kill the job
    }
  }

  def autoFitArima(df: DataFrame, key: String = "key", ts: String = "ts_nanos",
      value: String = "value"): Dataset[ArimaFit] = {
    val spark = df.sparkSession
    import spark.implicits._
    grouped(df, key, ts, value).flatMap { case (k, arr) =>
      try {
        val m = ARIMA.autoFit(arr)
        Some(ArimaFit(k, m.p, m.d, m.q, m.coefficients.toSeq, m.logLikelihood(arr),
          m.approxAIC(arr), m.isStationary, m.isInvertible))
      } catch { case _: Throwable => None }
    }
  }

  /** Fit + h-step forecast per key; future ts extrapolated from the median step. */
  def forecastArima(df: DataFrame, p: Int, d: Int, q: Int, h: Int,
      key: String = "key", ts: String = "ts_nanos", value: String = "value")
      : Dataset[ForecastPoint] = {
    val spark = df.sparkSession
    import spark.implicits._
    groupedWithTs(df, key, ts, value).flatMap { case (k, tss, arr) =>
      try {
      val m = ARIMA.fitModel(p, d, q, arr)
      val fc = m.forecast(arr, h).takeRight(h)
      val step = medianStep(tss)
      val lastTs = tss.last
      fc.zipWithIndex.map { case (v, i) =>
        ForecastPoint(k, i + 1, lastTs + step * (i + 1), v)
      }
      } catch { case _: Throwable => Nil }
    }
  }

  def fitEwma(df: DataFrame, key: String = "key", ts: String = "ts_nanos",
      value: String = "value"): Dataset[EwmaFit] = {
    val spark = df.sparkSession
    import spark.implicits._
    grouped(df, key, ts, value).flatMap { case (k, arr) =>
      try { val m = EWMA.fitModel(arr); Some(EwmaFit(k, m.smoothing, m.sse(arr))) }
      catch { case _: Throwable => None }
    }
  }

  def fitGarch(df: DataFrame, key: String = "key", ts: String = "ts_nanos",
      value: String = "value"): Dataset[GarchFit] = {
    val spark = df.sparkSession
    import spark.implicits._
    grouped(df, key, ts, value).flatMap { case (k, arr) =>
      try {
        val m = GARCH.fitModel(arr)
        Some(GarchFit(k, m.omega, m.alpha, m.beta, m.logLikelihood(arr)))
      } catch { case _: Throwable => None }
    }
  }

  /** EGARCH(1,1) per key (leverage-asymmetric volatility). */
  def fitEgarch(df: DataFrame, key: String = "key", ts: String = "ts_nanos",
      value: String = "value"): Dataset[EgarchFit] = {
    val spark = df.sparkSession
    import spark.implicits._
    grouped(df, key, ts, value).flatMap { case (k, arr) =>
      try {
        val m = EGARCH.fitModel(arr)
        Some(EgarchFit(k, m.omega, m.alpha, m.gamma, m.beta, m.logLikelihood(arr)))
      } catch { case _: Throwable => None }
    }
  }

  def fitAr(df: DataFrame, p: Int, key: String = "key", ts: String = "ts_nanos",
      value: String = "value"): Dataset[ArFit] = {
    val spark = df.sparkSession
    import spark.implicits._
    grouped(df, key, ts, value).flatMap { case (k, arr) =>
      try {
        val m = Autoregression.fitModel(arr, p)
        Some(ArFit(k, m.c, m.coefficients.toSeq))
      } catch { case _: Throwable => None }
    }
  }

  def fitHoltWinters(df: DataFrame, period: Int, modelType: String = "additive",
      key: String = "key", ts: String = "ts_nanos", value: String = "value")
      : Dataset[HoltWintersFit] = {
    val spark = df.sparkSession
    import spark.implicits._
    grouped(df, key, ts, value).flatMap { case (k, arr) =>
      try {
        val m = HoltWinters.fitModel(arr, period, modelType)
        Some(HoltWintersFit(k, period, m.alpha, m.beta, m.gamma, m.sse(arr)))
      } catch { case _: Throwable => None } // e.g. fewer than 2 full periods
    }
  }

  def kpssAll(df: DataFrame, regression: String = "c", key: String = "key",
      ts: String = "ts_nanos", value: String = "value",
      lags: Int = -1): Dataset[TestResult] = {
    val spark = df.sparkSession
    import spark.implicits._
    grouped(df, key, ts, value).map { case (k, arr) =>
      val (s, p) = graft.stats.StatTests.kpss(arr, regression, lags)
      TestResult(k, s, p)
    }
  }

  def adfAll(df: DataFrame, regression: String = "c", key: String = "key",
      ts: String = "ts_nanos", value: String = "value",
      maxLag: Int = -1): Dataset[TestResult] = {
    val spark = df.sparkSession
    import spark.implicits._
    grouped(df, key, ts, value).map { case (k, arr) =>
      val (s, p) = graft.stats.StatTests.adf(arr, maxLag, regression)
      TestResult(k, s, p)
    }
  }

  def ljungBoxAll(df: DataFrame, lags: Int = 10, key: String = "key",
      ts: String = "ts_nanos", value: String = "value"): Dataset[TestResult] = {
    val spark = df.sparkSession
    import spark.implicits._
    grouped(df, key, ts, value).map { case (k, arr) =>
      val (s, p) = graft.stats.StatTests.ljungBox(arr, lags)
      TestResult(k, s, p)
    }
  }

  /** Fixed-alpha exponential smoothing of every series (the reference's
    * EWMA addTimeDependentEffects lifted per key — models/EWMA.scala). */
  def ewmaSmoothed(df: DataFrame, alpha: Double, key: String = "key",
      ts: String = "ts_nanos", value: String = "value"): Dataset[SmoothedPoint] = {
    val spark = df.sparkSession
    import spark.implicits._
    groupedWithTs(df, key, ts, value).flatMap { case (k, tss, vals) =>
      val sm = EWMAModel(alpha).addTimeDependentEffects(vals)
      tss.indices.map(i => SmoothedPoint(k, tss(i), sm(i)))
    }
  }

  /**
   * Fixed-parameter Holt linear (double exponential) smoothing of every
   * series: level l_t = α·x_t + (1−α)(l_{t−1} + b_{t−1}), trend
   * b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}, initialized l_1 = x_1, b_1 = 0.
   * The trend-aware sibling of [[ewmaSmoothed]]; the recurrence arithmetic
   * mirrors the recursive-CTE oracle term-for-term, so the output is
   * engine-bit-exact unrounded. Sequential per series (inherently — each
   * state depends on the previous), embarrassingly parallel per key.
   */
  def holtSmoothed(df: DataFrame, alpha: Double, beta: Double,
      key: String = "key", ts: String = "ts_nanos",
      value: String = "value"): Dataset[HoltPoint] = {
    val spark = df.sparkSession
    import spark.implicits._
    groupedWithTs(df, key, ts, value).flatMap { case (k, tss, vals) =>
      val out = new Array[HoltPoint](vals.length)
      var l = vals(0)
      var b = 0.0
      out(0) = HoltPoint(k, tss(0), l, b)
      var i = 1
      while (i < vals.length) {
        val lNew = alpha * vals(i) + (1 - alpha) * (l + b)
        b = beta * (lNew - l) + (1 - beta) * b
        l = lNew
        out(i) = HoltPoint(k, tss(i), l, b)
        i += 1
      }
      out.toSeq
    }
  }

  /** h-step EWMA forecast: fit the smoothing parameter, then the flat
    * SES forecast (every horizon = last smoothed level). */
  def forecastEwma(df: DataFrame, h: Int, key: String = "key",
      ts: String = "ts_nanos", value: String = "value"): Dataset[ForecastPoint] = {
    val spark = df.sparkSession
    import spark.implicits._
    groupedWithTs(df, key, ts, value).flatMap { case (k, tss, vals) =>
      try {
        val m = EWMA.fitModel(vals)
        val fc = m.forecast(vals, h)
        val step = medianStep(tss)
        (1 to h).map(i => ForecastPoint(k, i, tss.last + step * i, fc(i - 1)))
      } catch { case _: Throwable => Nil }
    }
  }

  /** h-step Holt-Winters forecast per key (reference HoltWinters forecast
    * surface — models/HoltWinters.scala). */
  def forecastHoltWinters(df: DataFrame, period: Int, h: Int,
      modelType: String = "additive", key: String = "key",
      ts: String = "ts_nanos", value: String = "value"): Dataset[ForecastPoint] = {
    val spark = df.sparkSession
    import spark.implicits._
    groupedWithTs(df, key, ts, value).flatMap { case (k, tss, vals) =>
      try {
        val m = HoltWinters.fitModel(vals, period, modelType)
        val step = medianStep(tss)
        m.forecast(vals, h).zipWithIndex.map { case (v, i) =>
          ForecastPoint(k, i + 1, tss.last + step * (i + 1), v)
        }
      } catch { case _: Throwable => Nil }
    }
  }

  /** Mann-Kendall trend test of every series (monotone-trend detection
    * without a linearity assumption — the robust sibling of linearTrend). */
  def mannKendallAll(df: DataFrame, key: String = "key",
      ts: String = "ts_nanos", value: String = "value"): Dataset[MannKendallResult] = {
    val spark = df.sparkSession
    import spark.implicits._
    groupedWithTs(df, key, ts, value).map { case (k, tss, arr) =>
      // timestamps ride along so equal-ts pairs are excluded — keeps the
      // kernel deterministic (and oracle-consistent) under duplicate ts
      val (s, nPairs, tau, varS, z) = graft.stats.StatTests.mannKendall(arr, tss)
      MannKendallResult(k, s, nPairs, tau, varS, z)
    }
  }

  /** Durbin-Watson statistic of every series (values treated as residuals). */
  def durbinWatsonAll(df: DataFrame, key: String = "key",
      ts: String = "ts_nanos", value: String = "value"): Dataset[DwResult] = {
    val spark = df.sparkSession
    import spark.implicits._
    grouped(df, key, ts, value).map { case (k, arr) =>
      DwResult(k, graft.stats.StatTests.durbinWatson(arr))
    }
  }

  /** Breusch-Godfrey serial-correlation test of each series regressed on a
    * linear trend. */
  def breuschGodfreyAll(df: DataFrame, lags: Int = 2, key: String = "key",
      ts: String = "ts_nanos", value: String = "value"): Dataset[TestResult] = {
    val spark = df.sparkSession
    import spark.implicits._
    grouped(df, key, ts, value).flatMap { case (k, arr) =>
      try {
        val x = Array.tabulate(arr.length)(i => Array(i.toDouble))
        val (s, p) = graft.stats.StatTests.breuschGodfrey(arr, x, lags)
        Some(TestResult(k, s, p))
      } catch { case _: Throwable => None }
    }
  }

  /** Breusch-Pagan heteroskedasticity test of each series vs a linear trend. */
  def breuschPaganAll(df: DataFrame, key: String = "key",
      ts: String = "ts_nanos", value: String = "value"): Dataset[TestResult] = {
    val spark = df.sparkSession
    import spark.implicits._
    grouped(df, key, ts, value).flatMap { case (k, arr) =>
      try {
        val x = Array.tabulate(arr.length)(i => Array(i.toDouble))
        val (s, p) = graft.stats.StatTests.breuschPagan(arr, x)
        Some(TestResult(k, s, p))
      } catch { case _: Throwable => None }
    }
  }

  /** Per-key AR(p) [[TimeSeriesFilter]] application: fit by least squares,
    * then remove the time-dependent effects through the trait interface
    * (first p entries pass through unchanged — reference
    * models/Autoregression.scala:56-77 removeTimeDependentEffects). Emits
    * one (key, ts, residual) row per input observation. */
  def arFilterResiduals(df: DataFrame, p: Int, key: String = "key",
      ts: String = "ts_nanos", value: String = "value"): Dataset[FilteredPoint] = {
    val spark = df.sparkSession
    import spark.implicits._
    groupedWithTs(df, key, ts, value).flatMap { case (k, tss, arr) =>
      try {
        val model = Autoregression.fitModel(arr, p)
        val resid = model.removeTimeDependentEffects(arr)
        // round-trip through the TimeSeriesFilter trait surface: filter
        // (= addTimeDependentEffects into dest) must restore the series
        // (up to the one rounding step (x - pred) + pred re-introduces)
        val restored = (model: TimeSeriesFilter).filter(resid, new Array[Double](arr.length))
        tss.indices.iterator.map { i =>
          val ok = math.abs(restored(i) - arr(i)) <= 1e-9 * (1.0 + math.abs(arr(i)))
          FilteredPoint(k, tss(i), if (ok) resid(i) else Double.NaN)
        }
      } catch { case _: Throwable => Iterator.empty }
    }
  }

  /** Per-key ARX(p, xMaxLag) least-squares fit of y on its own lags and one
    * exogenous regressor column (reference models/AutoregressionX.scala:
    * 48-130). Input rows carry (key, ts, y, x) co-sampled. */
  def fitArx(df: DataFrame, p: Int, xMaxLag: Int, includeCurrentX: Boolean,
      key: String = "key", ts: String = "ts_nanos", y: String = "y",
      x: String = "x"): Dataset[ArxFit] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.filter(col(y).isNotNull && col(x).isNotNull)
      .select(col(key).cast("string").as("key"), col(ts).cast("long").as("ts"),
        col(y).cast("double").as("y"), col(x).cast("double").as("x"))
      .as[(String, Long, Double, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (k, it) =>
        val pts = it.toArray.sortBy(_._2)
        try {
          val m = AutoregressionX.fitModel(pts.map(_._3),
            pts.map(pt => Array(pt._4)), p, xMaxLag, includeCurrentX)
          Iterator.single(ArxFit(k, m.c, m.arCoefs.toSeq, m.xCoefs(0).toSeq))
        } catch { case _: Throwable => Iterator.empty }
      }
  }

  /** Median inter-observation gap (forecast timestamp extrapolation). */
  private def medianStep(tss: Array[Long]): Long =
    if (tss.length > 1) {
      val steps = tss.sliding(2).map(w => w(1) - w(0)).toArray.sorted
      steps(steps.length / 2)
    } else 1L
}
