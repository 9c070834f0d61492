package graft.models

import org.apache.commons.math3.random.MersenneTwister
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{avg, col, when}

import graft.stats.StatTests

/**
 * Seeded simulate→fit→recover certification kernels for the model-fit
 * surface (SURVEY §2.8/§2.9).
 *
 * Each query generates a deterministic synthetic series executor-side from a
 * fixed MersenneTwister seed, fits the model under test, and emits tolerance
 * BOOLEANS against the literal simulation truths. The DuckDB oracle side is
 * then a constant `SELECT ... FROM (VALUES ...)` — which turns the
 * previously rows-only (`no_oracle`) model-fit queries into hash-exact
 * driver checks: a silently drifted fit flips a boolean and the driver sees
 * a red cell.
 *
 * Everything here is deterministic: MersenneTwister's stream is specified,
 * commons-math3 optimizers are deterministic from a fixed init, and JVM
 * double arithmetic is reproducible. Tolerances are set ≈2-3× the observed
 * estimation error at the chosen n, so they certify statistical recovery,
 * not just "the optimizer ran".
 *
 * Truth setups follow the reference's own test conventions
 * (reference src/test/scala/com/cloudera/sparkts/models/ARIMASuite.scala:27-41,
 * HoltWintersSuite, EWMASuite.scala:22-65): simulate from known parameters,
 * fit, assert closeness.
 *
 * Scale note: these are constant-cost certification queries (a handful of
 * bounded in-memory series per run, distributed one-per-task); they do not
 * touch the SF tables and cost the same at sf0.001 and 100 TB.
 */
object Recovery {

  /** One check row: (key, check, ok) plus the observed |error| for probes. */
  final case class Check(key: String, check: String, ok: Boolean, err: Double)

  private def ck(key: String, name: String, actual: Double, truth: Double,
      tol: Double): Check =
    Check(key, name, math.abs(actual - truth) < tol, math.abs(actual - truth))

  /** Gaussian iid innovations from a fixed seed. */
  private def gauss(n: Int, seed: Long): Array[Double] = {
    val r = new MersenneTwister(seed)
    Array.fill(n)(r.nextGaussian())
  }

  // ------------------------------------------------------------------
  // kernels (pure, executor-side)
  // ------------------------------------------------------------------

  /** ARIMA(1,0,1) c=8.7 φ=0.3 θ=0.7 — certifies ARIMA.fitModel (m01). */
  def arimaKernel(key: String, seed: Long): Seq[Check] = {
    val truth = ARIMAModel(1, 0, 1, Array(8.7, 0.3, 0.7))
    val ts = truth.sample(2000, new MersenneTwister(seed))
    val m = ARIMA.fitModel(1, 0, 1, ts)
    Seq(
      ck(key, "ar1", m.arCoefs(0), 0.3, 0.15),
      ck(key, "ma1", m.maCoefs(0), 0.7, 0.15),
      ck(key, "intercept", m.intercept, 8.7, 2.0),
      Check(key, "stationary", m.isStationary, 0.0),
      Check(key, "invertible", m.isInvertible, 0.0))
  }

  /** AR(2) c=1.0 φ=(0.5,0.2) — certifies Autoregression.fitModel (m03). */
  def arKernel(key: String, seed: Long): Seq[Check] = {
    val truth = ARIMAModel(2, 0, 0, Array(1.0, 0.5, 0.2))
    val ts = truth.sample(3000, new MersenneTwister(seed))
    val m = Autoregression.fitModel(ts, 2)
    Seq(
      ck(key, "c", m.c, 1.0, 0.5),
      ck(key, "ar1", m.coefficients(0), 0.5, 0.08),
      ck(key, "ar2", m.coefficients(1), 0.2, 0.08))
  }

  /** SES data-generating process with α=0.4 — certifies EWMA.fitModel and
    * the flat h-step forecast identity (m02, m17). */
  def ewmaKernel(key: String, seed: Long): Seq[Check] = {
    val alpha = 0.4
    val n = 3000
    val e = gauss(n, seed)
    val ts = new Array[Double](n)
    var level = 10.0
    var t = 0
    while (t < n) {
      ts(t) = level + e(t)
      level += alpha * e(t)
      t += 1
    }
    val m = EWMA.fitModel(ts)
    val smoothed = m.addTimeDependentEffects(ts)
    // the REAL forecast path (EWMAModel.forecast, served by
    // ModelOps.forecastEwma/m17) vs an independent recurrence for the last
    // level — h values, all flat at that level
    val fc = m.forecast(ts, 5)
    var lvl = ts(0)
    var i = 1
    while (i < n) { lvl = m.smoothing * ts(i) + (1 - m.smoothing) * lvl; i += 1 }
    val fcErr = fc.map(v => math.abs(v - lvl)).max
    Seq(
      ck(key, "alpha", m.smoothing, alpha, 0.08),
      Check(key, "alpha_in_unit", m.smoothing > 0 && m.smoothing < 1, 0.0),
      Check(key, "forecast_flat", fc.length == 5 && fcErr < 1e-9, fcErr),
      // round-trip: removeTimeDependentEffects inverts the smoother exactly
      Check(key, "inverse_roundtrip",
        m.removeTimeDependentEffects(smoothed).zip(ts).forall {
          case (a, b) => math.abs(a - b) < 1e-8 }, 0.0))
  }

  /** Additive HW period=4 on trend+seasonal+small-noise — certifies
    * HoltWinters.fitModel + forecast (m06, m16). */
  def holtWintersKernel(key: String, seed: Long): Seq[Check] = {
    val period = 4
    val n = 160
    val season = Array(1.5, -0.8, 0.3, -1.0)
    val e = gauss(n + period, seed)
    val ts = Array.tabulate(n) { t =>
      10.0 + 0.05 * t + season(t % period) + 0.1 * e(t)
    }
    val m = HoltWinters.fitModel(ts, period, "additive")
    val fc = m.forecast(ts, period)
    // deterministic component of the next full period
    val truthFc = Array.tabulate(period) { k =>
      val t = n + k
      10.0 + 0.05 * t + season(t % period)
    }
    val maxErr = fc.zip(truthFc).map { case (a, b) => math.abs(a - b) }.max
    Seq(
      Check(key, "forecast_period_close", maxErr < 0.35, maxErr),
      Check(key, "params_in_unit",
        m.alpha >= 0 && m.alpha <= 1 && m.beta >= 0 && m.beta <= 1 &&
          m.gamma >= 0 && m.gamma <= 1, 0.0),
      // fitted SSE per point must be on the order of the injected noise
      Check(key, "sse_noise_bound", m.sse(ts) / (n - period) < 0.1, m.sse(ts) / (n - period)))
  }

  /** GARCH(1,1) ω=0.1 α=0.15 β=0.75 — certifies GARCH.fitModel (m07). */
  def garchKernel(key: String, seed: Long): Seq[Check] = {
    val (omega, alpha, beta) = (0.1, 0.15, 0.75)
    val n = 8000
    val z = gauss(n, seed)
    val ts = new Array[Double](n)
    var h = omega / (1 - alpha - beta)
    var t = 0
    while (t < n) {
      if (t > 0) h = omega + alpha * ts(t - 1) * ts(t - 1) + beta * h
      ts(t) = math.sqrt(h) * z(t)
      t += 1
    }
    val m = GARCH.fitModel(ts)
    val llFit = m.logLikelihood(ts)
    val llTruth = GARCHModel(omega, alpha, beta).logLikelihood(ts)
    Seq(
      ck(key, "alpha", m.alpha, alpha, 0.06),
      ck(key, "beta", m.beta, beta, 0.12),
      ck(key, "omega", m.omega, omega, 0.08),
      // the fitted optimum must dominate the truth's likelihood
      Check(key, "ll_dominates_truth", llFit >= llTruth - 1e-6, llTruth - llFit))
  }

  /** EGARCH(1,1) ω=−0.2 α=0.25 γ=−0.15 β=0.9 — certifies EGARCH.fitModel
    * (m41). Tolerances ≈3× the observed estimation error at n=8000
    * (fits of seeds 101, 202 and 303: ω ±0.04, α ±0.016, γ ±0.025,
    * β ±0.02); the fitted likelihood must dominate the truth's and the
    * add∘remove pair must round-trip to machine epsilon. */
  def egarchKernel(key: String, seed: Long): Seq[Check] = {
    val truth = EGARCHModel(omega = -0.2, alpha = 0.25, gamma = -0.15, beta = 0.9)
    val ts = truth.sample(8000, new MersenneTwister(seed))
    val m = EGARCH.fitModel(ts)
    val llFit = m.logLikelihood(ts)
    val llTruth = truth.logLikelihood(ts)
    val rt = m.addTimeDependentEffects(m.removeTimeDependentEffects(ts))
    val rtErr = rt.zip(ts).map { case (a, b) => math.abs(a - b) }.max
    Seq(
      ck(key, "omega", m.omega, -0.2, 0.12),
      ck(key, "alpha", m.alpha, 0.25, 0.08),
      ck(key, "gamma", m.gamma, -0.15, 0.08),
      ck(key, "beta", m.beta, 0.9, 0.06),
      Check(key, "ll_dominates_truth", llFit >= llTruth - 1e-6, llTruth - llFit),
      Check(key, "inverse_roundtrip", rtErr < 1e-8, rtErr))
  }

  /** AR(1) closed-form forecast: x̂_{n+h} = μ + φ^h (x_n − μ) — certifies
    * ARIMAModel.forecast against the analytic path (m04). */
  def forecastKernel(key: String, seed: Long): Seq[Check] = {
    val (c, phi) = (2.0, 0.5)
    val truth = ARIMAModel(1, 0, 0, Array(c, phi))
    val ts = truth.sample(1500, new MersenneTwister(seed))
    val m = ARIMA.fitModel(1, 0, 0, ts)
    val h = 5
    val fc = m.forecast(ts, h).takeRight(h)
    // analytic h-step path from the FITTED params (certifies the recursion)
    val mu = m.intercept / (1 - m.arCoefs(0))
    val analytic = Array.tabulate(h)(k =>
      mu + math.pow(m.arCoefs(0), k + 1) * (ts.last - mu))
    val recErr = fc.zip(analytic).map { case (a, b) => math.abs(a - b) }.max
    // and statistical recovery of the truth parameters
    Seq(
      Check(key, "forecast_matches_analytic", recErr < 1e-6, recErr),
      ck(key, "ar1", m.arCoefs(0), phi, 0.08),
      ck(key, "mean", mu, c / (1 - phi), 0.3))
  }

  /** autoFit on an AR(1) series must difference zero times and produce a
    * model whose one-step residual variance ≈ the injected noise (m10). */
  def autofitKernel(key: String, seed: Long): Seq[Check] = {
    // φ=0.4 keeps the series far from the unit root so the KPSS d-selection
    // inside autoFit is robustly d=0 (φ=0.6 sat on the 5% false-positive
    // edge for some seeds — that is correct KPSS behavior, not a fit bug)
    val truth = ARIMAModel(1, 0, 0, Array(1.0, 0.4))
    val ts = truth.sample(1200, new MersenneTwister(seed))
    val m = ARIMA.autoFit(ts, maxP = 3, maxQ = 3)
    val fitted = m.forecast(ts, 0)
    var sse = 0.0
    var t = 1
    while (t < ts.length) { val r = ts(t) - fitted(t); sse += r * r; t += 1 }
    val residVar = sse / (ts.length - 1)
    Seq(
      Check(key, "d_is_zero", m.d == 0, m.d.toDouble),
      Check(key, "order_bounded", m.p <= 3 && m.q <= 3, 0.0),
      Check(key, "resid_var_near_noise", residVar > 0.8 && residVar < 1.25, residVar),
      Check(key, "stationary", m.isStationary, 0.0))
  }

  /** y = 2 + 3·x + u, u AR(1) ρ=0.6 — certifies fitCochraneOrcutt (m11). */
  def cochraneOrcuttKernel(key: String, seed: Long): Seq[Check] = {
    val n = 1200
    val e = gauss(n, seed)
    val u = new Array[Double](n)
    var t = 1
    u(0) = e(0)
    while (t < n) { u(t) = 0.6 * u(t - 1) + e(t); t += 1 }
    val x = Array.tabulate(n)(i => Array(i / 100.0))
    val y = Array.tabulate(n)(i => 2.0 + 3.0 * x(i)(0) + u(i))
    val m = RegressionARIMA.fitCochraneOrcutt(y, x)
    Seq(
      ck(key, "intercept", m.beta(0), 2.0, 0.8),
      ck(key, "slope", m.beta(1), 3.0, 0.12),
      ck(key, "rho", m.rho, 0.6, 0.1))
  }

  /** y_t = 4 + 0.4 y_{t-1} + 1.5 x_t + 0.8 x_{t-1} + e — certifies
    * ARIMAX.fitModel (m12) and the ARX init path inside it. */
  def arimaxKernel(key: String, seed: Long): Seq[Check] = {
    val n = 1500
    val r = new MersenneTwister(seed)
    val x = Array.fill(n)(r.nextGaussian())
    val e = Array.fill(n)(r.nextGaussian())
    val y = new Array[Double](n)
    var t = 0
    while (t < n) {
      val yl = if (t > 0) y(t - 1) else 0.0
      val xl = if (t > 0) x(t - 1) else 0.0
      y(t) = 4.0 + 0.4 * yl + 1.5 * x(t) + 0.8 * xl + e(t)
      t += 1
    }
    val m = ARIMAX.fitModel(1, 0, 0, y, x.map(Array(_)), xLag = 1)
    Seq(
      ck(key, "intercept", m.intercept, 4.0, 0.8),
      ck(key, "ar1", m.arCoefs(0), 0.4, 0.08),
      ck(key, "beta_x0", m.xCoefs(0)(0), 1.5, 0.1),
      ck(key, "beta_x1", m.xCoefs(0)(1), 0.8, 0.12))
  }

  /** Decision certification for ADF / KPSS / Ljung-Box on series with known
    * stationarity (m05, m08, m09): a stationary AR(1) and a random walk
    * from the same innovation stream. */
  def stationarityKernel(key: String, seed: Long): Seq[Check] = {
    val n = 1000
    val e = gauss(n, seed)
    val ar = new Array[Double](n)
    val rw = new Array[Double](n)
    var t = 1
    ar(0) = e(0); rw(0) = e(0)
    while (t < n) {
      ar(t) = 0.5 * ar(t - 1) + e(t)
      rw(t) = rw(t - 1) + e(t)
      t += 1
    }
    val (adfStatAr, adfPAr) = StatTests.adf(ar)
    val (adfStatRw, adfPRw) = StatTests.adf(rw)
    val (kpssAr, _) = StatTests.kpss(ar)
    val (kpssRw, _) = StatTests.kpss(rw)
    val (_, lbPWhite) = StatTests.ljungBox(e, 10)
    val (_, lbPAr) = StatTests.ljungBox(ar, 10)
    Seq(
      // ADF rejects the unit root for the stationary series only
      Check(key, "adf_rejects_ar1", adfPAr < 0.05, adfPAr),
      Check(key, "adf_keeps_rw", adfPRw > 0.05, adfPRw),
      Check(key, "adf_stat_ordered", adfStatAr < adfStatRw, adfStatRw - adfStatAr),
      // KPSS: fails to reject stationarity for AR(1), rejects for the walk
      Check(key, "kpss_keeps_ar1", kpssAr < 0.463, kpssAr),
      Check(key, "kpss_rejects_rw", kpssRw > 0.463, kpssRw),
      // Ljung-Box: white noise uncorrelated, AR(1) strongly correlated
      Check(key, "ljungbox_keeps_white", lbPWhite > 0.05, lbPWhite),
      Check(key, "ljungbox_rejects_ar1", lbPAr < 0.05, lbPAr))
  }

  /** Natural-cubic-spline fill vs the closed-form tridiagonal solve:
    * knots (0,1)(2,4)(4,2)(6,5)(8,3), natural boundary — the interpolated
    * values at the NaN positions 1/3/5/7 are literal constants (sp01's
    * pipeline slice stays rows-only; this certifies its kernel). */
  def splineKernel(key: String, seed: Long): Seq[Check] = {
    val series = Array(1.0, Double.NaN, 4.0, Double.NaN, 2.0, Double.NaN, 5.0,
      Double.NaN, 3.0)
    val filled = ArrayOps.fillSpline(series)
    // Burden–Faires natural-spline solve evaluated offline (tools-free:
    // plain tridiagonal algebra, values exact to the printed digits)
    val truth = Map(1 -> 3.169642857142857, 3 -> 2.866071428571429,
      5 -> 3.366071428571429, 7 -> 4.669642857142857)
    val interpChecks = truth.toSeq.sortBy(_._1).map { case (i, t) =>
      ck(key, s"interp_$i", filled(i), t, 1e-9)
    }
    val edge = ArrayOps.fillSpline(
      Array(Double.NaN, 1.0, Double.NaN, 4.0, 2.0, Double.NaN))
    interpChecks ++ Seq(
      Check(key, "knots_preserved",
        Seq(0, 2, 4, 6, 8).forall(i => filled(i) == series(i)), 0.0),
      Check(key, "outside_range_nan", edge(0).isNaN && edge(5).isNaN, 0.0),
      Check(key, "inside_gap_filled", !edge(2).isNaN, 0.0))
  }

  /** Decision certification for Breusch-Godfrey / Breusch-Pagan on
    * regressions with known error structure (m14, m15). */
  def lmTestsKernel(key: String, seed: Long): Seq[Check] = {
    val n = 800
    val r = new MersenneTwister(seed)
    // x ≥ 0 so the BP variance signal is MONOTONE in the regressor — BP's
    // auxiliary regression of e² on x is linear, so a symmetric var ∝ x²
    // pattern would (correctly) be invisible to it
    val x = Array.fill(n)(math.abs(r.nextGaussian()))
    val eClean = Array.fill(n)(r.nextGaussian())
    // AR(1) errors for the BG positive case
    val eSerial = new Array[Double](n)
    eSerial(0) = eClean(0)
    var t = 1
    while (t < n) { eSerial(t) = 0.6 * eSerial(t - 1) + eClean(t); t += 1 }
    // variance ∝ (1 + 3x), increasing in x, for the BP positive case
    val eHet = Array.tabulate(n)(i => eClean(i) * math.sqrt(1.0 + 3.0 * x(i)))
    val xm = x.map(Array(_))
    def yOf(e: Array[Double]) = Array.tabulate(n)(i => 1.0 + 2.0 * x(i) + e(i))
    val (_, bgPSerial) = StatTests.breuschGodfrey(yOf(eSerial), xm, 2)
    val (_, bgPClean) = StatTests.breuschGodfrey(yOf(eClean), xm, 2)
    val (_, bpPHet) = StatTests.breuschPagan(yOf(eHet), xm)
    val (_, bpPClean) = StatTests.breuschPagan(yOf(eClean), xm)
    Seq(
      Check(key, "bg_rejects_serial", bgPSerial < 0.05, bgPSerial),
      Check(key, "bg_keeps_clean", bgPClean > 0.05, bgPClean),
      Check(key, "bp_rejects_hetero", bpPHet < 0.05, bpPHet),
      Check(key, "bp_keeps_clean", bpPClean > 0.05, bpPClean))
  }

  // ------------------------------------------------------------------
  // DataFrame builders (one per recovery query)
  // ------------------------------------------------------------------

  /** Distribute (key, seed) configs and run `kernel` one-per-task. */
  // ------------------------------------------------------------------
  // R-pinned goldens (mr19): not simulate-then-recover — the published
  // datasets and R outputs the reference's own suites assert against
  // (reference ARIMASuite.scala:27-41: arima.sim(ar=.3, ma=.7) seed 456;
  // HoltWintersModelSuite.scala:44-70: HoltWinters(AirPassengers) +
  // forecast.HoltWinters h=12). Tolerances are the reference suites' own.
  // ------------------------------------------------------------------

  /** Monthly international airline passengers 1949-1960 (Box & Jenkins;
    * R's built-in `AirPassengers` dataset — public domain). */
  private val airPassengers: Array[Double] = Array(
    112, 118, 132, 129, 121, 135, 148, 148, 136, 119, 104, 118,
    115, 126, 141, 135, 125, 149, 170, 170, 158, 133, 114, 140,
    145, 150, 178, 163, 172, 178, 199, 199, 184, 162, 146, 166,
    171, 180, 193, 181, 183, 218, 230, 242, 209, 191, 172, 194,
    196, 196, 236, 235, 229, 243, 264, 272, 237, 211, 180, 201,
    204, 188, 235, 227, 234, 264, 302, 293, 259, 229, 203, 229,
    242, 233, 267, 269, 270, 315, 364, 347, 312, 274, 237, 278,
    284, 277, 317, 313, 318, 374, 413, 405, 355, 306, 271, 306,
    315, 301, 356, 348, 355, 422, 465, 467, 404, 347, 305, 336,
    340, 318, 362, 348, 363, 435, 491, 505, 404, 359, 310, 337,
    360, 342, 406, 396, 420, 472, 548, 559, 463, 407, 362, 405,
    417, 391, 419, 461, 472, 535, 622, 606, 508, 461, 390, 432)
    .map(_.toDouble)

  /** R's forecast.HoltWinters(HoltWinters(AirPassengers), h=12) point
    * forecasts — the constants the reference suite pins (±10). */
  private val rHwForecast: Array[Double] = Array(
    453.4977, 429.3906, 467.0361, 503.2574, 512.3395, 571.8880,
    652.6095, 637.4623, 539.7548, 490.7250, 424.4593, 469.5315)

  /** The R-published constants mr19 asserts against, as data: (check name,
    * R value, tolerance). Tolerances are the reference suites' own
    * (reference ARIMASuite.scala:38-40 ±0.05; HoltWintersModelSuite.scala:
    * 50-52 ±0.01 on params — widened to 0.02 as mr19 does for optimizer
    * variation — and :76 ±10 on the h=12 forecast path). mr21 interpolates
    * these into BOTH the engine output and the DuckDB oracle SQL, so the
    * driver artifact itself carries expected values that originate outside
    * this repo's engine (R 3.2.0 outputs published in the reference suites). */
  private[graft] val rGoldenPins: Seq[(String, Double, Double)] = Seq(
    ("r_arima_ar", 0.3, 0.05),
    ("r_arima_ma", 0.7, 0.05),
    ("r_hw_alpha", 0.24796, 0.02),
    ("r_hw_beta", 0.03453, 0.02),
    ("r_hw_gamma", 1.0, 0.02)) ++
    Seq(453.4977, 429.3906, 467.0361, 503.2574, 512.3395, 571.8880,
      652.6095, 637.4623, 539.7548, 490.7250, 424.4593, 469.5315)
      .zipWithIndex.map { case (v, i) => (f"r_hw_fc_${i + 1}%02d", v, 10.0) }

  /** mr21 — the R-golden constants as a DRIVER-VISIBLE row set: the engine
    * echoes (check_name, r_value, tol) and computes `within_tol` from a
    * live ARIMA(1,0,1) fit on R_ARIMA_DataSet1 and a live HoltWinters
    * additive fit + h=12 forecast on AirPassengers; the oracle is the same
    * constants with within_tol=true. Unlike mr19 (booleans only), the R
    * numbers appear literally in oracle_sql.json. */
  def rGoldenConstantsDf(s: SparkSession): DataFrame = {
    import s.implicits._
    val pins = rGoldenPins
    s.createDataset(Seq(0)).repartition(1).flatMap { _ =>
      val rArima = {
        val in = getClass.getClassLoader.getResourceAsStream("R_ARIMA_DataSet1.csv")
        try scala.io.Source.fromInputStream(in).getLines().map(_.toDouble).toArray
        finally in.close()
      }
      val am = ARIMA.fitModel(1, 0, 1, rArima)
      val hw = HoltWinters.fitModel(airPassengers, 12, "additive")
      val fc = hw.forecast(airPassengers, 12)
      val fitted: Map[String, Double] = Map(
        "r_arima_ar" -> am.coefficients(1),
        "r_arima_ma" -> am.coefficients(2),
        "r_hw_alpha" -> hw.alpha,
        "r_hw_beta" -> hw.beta,
        "r_hw_gamma" -> hw.gamma) ++
        fc.zipWithIndex.map { case (v, i) => f"r_hw_fc_${i + 1}%02d" -> v }
      pins.map { case (name, r, tol) =>
        (name, r, tol, math.abs(fitted(name) - r) <= tol)
      }
    }.toDF("check_name", "r_value", "tol", "within_tol")
  }

  private[graft] def rGoldenConstantsOracle: String =
    "SELECT * FROM (VALUES " + rGoldenPins.map { case (n, r, tol) =>
      s"('$n', CAST($r AS DOUBLE), CAST($tol AS DOUBLE), true)"
    }.mkString(", ") + ") AS t(check_name, r_value, tol, within_tol)"

  def rGoldenKernel(key: String, seed: Long): Seq[Check] = {
    val rArima = {
      val in = getClass.getClassLoader.getResourceAsStream("R_ARIMA_DataSet1.csv")
      try scala.io.Source.fromInputStream(in).getLines().map(_.toDouble).toArray
      finally in.close()
    }
    val am = ARIMA.fitModel(1, 0, 1, rArima)
    val hw = HoltWinters.fitModel(airPassengers, 12, "additive")
    val fc = hw.forecast(airPassengers, 12)
    val fcMaxErr = fc.zip(rHwForecast).map { case (a, b) => math.abs(a - b) }.max
    Seq(
      ck(key, "r_arima_ar", am.coefficients(1), 0.3, 0.05),
      ck(key, "r_arima_ma", am.coefficients(2), 0.7, 0.05),
      ck(key, "r_hw_alpha", hw.alpha, 0.24796, 0.02),
      ck(key, "r_hw_beta", hw.beta, 0.03453, 0.02),
      ck(key, "r_hw_gamma", hw.gamma, 1.0, 0.02),
      Check(key, "r_hw_forecast_within_10", fcMaxErr < 10.0, fcMaxErr))
  }

  private def run(s: SparkSession, configs: Seq[(String, Long)],
      kernel: (String, Long) => Seq[Check]): DataFrame = {
    import s.implicits._
    s.createDataset(configs).repartition(configs.size)
      .flatMap { case (k, seed) => kernel(k, seed).map(c => (c.key, c.check, c.ok)) }
      .toDF("key", "check_name", "ok")
  }

  private[graft] val seeds3 = Seq(("s1", 101L), ("s2", 202L), ("s3", 303L))
  private val seeds1 = Seq(("s1", 0L)) // deterministic kernels need no seed spread

  private def keysOf(group: String): Seq[(String, Long)] =
    if (group == "spline" || group == "rgolden") seeds1 else seeds3

  /** Canonical check names per kernel, in emit order — the oracle VALUES
    * lists and the drift spec are built from these. */
  private[graft] val checkNames: Map[String, Seq[String]] = Map(
    "arima" -> Seq("ar1", "ma1", "intercept", "stationary", "invertible"),
    "ar" -> Seq("c", "ar1", "ar2"),
    "ewma" -> Seq("alpha", "alpha_in_unit", "forecast_flat", "inverse_roundtrip"),
    "holtwinters" -> Seq("forecast_period_close", "params_in_unit", "sse_noise_bound"),
    "garch" -> Seq("alpha", "beta", "omega", "ll_dominates_truth"),
    "forecast" -> Seq("forecast_matches_analytic", "ar1", "mean"),
    "autofit" -> Seq("d_is_zero", "order_bounded", "resid_var_near_noise", "stationary"),
    "cochrane_orcutt" -> Seq("intercept", "slope", "rho"),
    "arimax" -> Seq("intercept", "ar1", "beta_x0", "beta_x1"),
    "stationarity" -> Seq("adf_rejects_ar1", "adf_keeps_rw", "adf_stat_ordered",
      "kpss_keeps_ar1", "kpss_rejects_rw", "ljungbox_keeps_white", "ljungbox_rejects_ar1"),
    "lm_tests" -> Seq("bg_rejects_serial", "bg_keeps_clean",
      "bp_rejects_hetero", "bp_keeps_clean"),
    "spline" -> Seq("interp_1", "interp_3", "interp_5", "interp_7",
      "knots_preserved", "outside_range_nan", "inside_gap_filled"),
    "rgolden" -> Seq("r_arima_ar", "r_arima_ma", "r_hw_alpha", "r_hw_beta",
      "r_hw_gamma", "r_hw_forecast_within_10"),
    "egarch" -> Seq("omega", "alpha", "gamma", "beta", "ll_dominates_truth",
      "inverse_roundtrip"),
    "var" -> Seq("a11", "a12", "a21", "a22", "c1", "c2"),
    "varp" -> Seq("a1_close", "a2_close", "c_close", "forecast_matches_fit"),
    "granger" -> Seq("x_causes_y_detected", "reverse_direction_kept",
      "lag1_matches_closed_form"),
    "order" -> Seq("all_orders_scored", "bic_selects_true_order",
      "hqic_selects_true_order", "true_order_beats_underfit",
      "best_aic_at_least_true", "sigma_matches_noise"),
    "logit" -> Seq("coefs_recovered", "converged", "score_calibrated",
      "separates", "auc_discriminates"),
    "irf" -> Seq("phi0_is_identity", "orth_step0_lower_triangular",
      "phi1_matches_planted", "phi2_matches_planted",
      "fevd_shares_sum_to_one", "fevd_shares_nonnegative",
      "irf_consistent_with_fit", "interval_point_matches_forecast",
      "interval_se_nondecreasing", "interval_se1_matches_noise",
      "interval_brackets_point"))

  /** mr13 — bivariate VAR(1) recovery, certifying the DISTRIBUTED
    * [[graft.ts.TimeSeriesOps.varFit]] (not a local twin): simulate
    * x_t = 1 + 0.5x + 0.2y + ε, y_t = 2 + 0.1x + 0.6y + ε per seed,
    * fit through the real operator, recover A and c. */
  def varRecover(s: SparkSession): DataFrame = {
    import s.implicits._
    val sims = seeds3.flatMap { case (k, seed) =>
      val r = new MersenneTwister(seed)
      var x = 2.0; var y = 5.0
      (0 until 4000).map { t =>
        val nx = 1.0 + 0.5 * x + 0.2 * y + r.nextGaussian() * 0.1
        val ny = 2.0 + 0.1 * x + 0.6 * y + r.nextGaussian() * 0.1
        x = nx; y = ny
        (k, t.toLong, x, y)
      }
    }
    val fits = graft.ts.TimeSeriesOps.varFit(
        sims.toDF("key", "ts_nanos", "x", "y"))
      .collect().map(r => r.getString(0) -> r).toMap
    val truth = Map("a11" -> (0.5, 0.08), "a12" -> (0.2, 0.08),
      "a21" -> (0.1, 0.08), "a22" -> (0.6, 0.08),
      "c1" -> (1.0, 0.5), "c2" -> (2.0, 0.5))
    val rows = for ((k, _) <- seeds3; name <- checkNames("var")) yield {
      val (t, tol) = truth(name)
      (k, name, math.abs(fits(k).getAs[Double](name) - t) < tol)
    }
    rows.toDF("key", "check_name", "ok")
  }

  /** mr14 — trivariate VAR(2) recovery, certifying the DISTRIBUTED
    * [[graft.models.VectorAR.varpFit]] and the iterated
    * [[graft.models.VectorAR.varpForecast]]: simulate a planted stable
    * (A₁, A₂, c) system per seed, fit through the real operator, recover
    * every coefficient within tolerance; the forecast check replays the
    * one-step recursion from the FITTED coefficients and must agree with
    * the operator bit-for-bit (same arithmetic order). */
  def varpRecover(s: SparkSession): DataFrame = {
    import s.implicits._
    val names = Seq("x", "y", "z")
    val n = 3; val p = 2
    val a1 = Array(Array(0.4, 0.1, 0.0), Array(0.0, 0.3, 0.1),
      Array(0.1, 0.0, 0.2))
    val a2 = Array(Array(0.2, 0.0, 0.05), Array(0.05, 0.2, 0.0),
      Array(0.0, 0.05, 0.3))
    val cv = Array(1.0, 2.0, 0.5)
    val lastTwo = collection.mutable.Map.empty[String, (Array[Double], Array[Double])]
    val sims = seeds3.flatMap { case (k, seed) =>
      val r = new MersenneTwister(seed)
      var y1 = Array(2.0, 5.0, 1.0)
      var y2 = Array(2.0, 5.0, 1.0)
      val out = (0 until 4000).map { t =>
        val nxt = new Array[Double](n)
        var i = 0
        while (i < n) {
          var v = cv(i)
          var j = 0
          while (j < n) { v += a1(i)(j) * y1(j) + a2(i)(j) * y2(j); j += 1 }
          nxt(i) = v + r.nextGaussian() * 0.1
          i += 1
        }
        y2 = y1; y1 = nxt
        (k, t.toLong, nxt(0), nxt(1), nxt(2))
      }
      lastTwo(k) = (y1, y2) // newest, second-newest
      out
    }
    val df = sims.toDF("key", "ts_nanos", "x", "y", "z")
    // coef map: (key, eq, term, lag) -> unrounded coefficient
    val fit = VectorAR.varpFit(df, p, names).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3)) ->
        r.getDouble(4)).toMap
    val fc1 = VectorAR.varpForecast(df, p, 1, names).collect()
      .map(r => (r.getString(0), r.getString(3)) -> r.getDouble(4)).toMap
    val rows = seeds3.flatMap { case (k, _) =>
      def err(truth: Array[Array[Double]], lag: Int): Double =
        (for (e <- 0 until n; j <- 0 until n) yield
          math.abs(fit((k, names(e), names(j), lag)) - truth(e)(j))).max
      val cErr = (0 until n).map(e =>
        math.abs(fit((k, names(e), "c", 0)) - cv(e))).max
      // replay the operator's one-step arithmetic from the fitted coefs
      val (h0, h1) = lastTwo(k)
      val fcErr = (0 until n).map { e =>
        var v = fit((k, names(e), "c", 0))
        for (l <- 1 to p; i <- 0 until n)
          v += fit((k, names(e), names(i), l)) * (if (l == 1) h0(i) else h1(i))
        math.abs(fc1((k, names(e))) - v)
      }.max
      Seq((k, "a1_close", err(a1, 1) < 0.08), (k, "a2_close", err(a2, 2) < 0.08),
        (k, "c_close", cErr < 0.5), (k, "forecast_matches_fit", fcErr < 1e-9))
    }
    rows.toDF("key", "check_name", "ok")
  }

  /** mr16 — VAR order selection recovery through the DISTRIBUTED
    * [[graft.models.VectorAR.varpOrderSelect]]/`varpBestOrder`: simulate
    * the SAME planted trivariate VAR(2) as mr14, score p = 1..4, and
    * require (a) every candidate order emits a score (no silent skips),
    * (b) BIC and HQIC select exactly the planted order 2 (both are
    * consistent criteria; AIC is not and is deliberately NOT pinned),
    * (c) the true order strictly beats underfitting on every criterion
    * (aic/bic/hqic at p=2 < at p=1), and (d) the innovation covariance
    * at the selected order matches the planted noise: ln det Σ̂ within
    * 0.5 of ln det(0.1²·I₃) = 3·ln 0.01 ≈ −13.816. */
  def orderRecover(s: SparkSession): DataFrame = {
    import s.implicits._
    val n = 3
    val a1 = Array(Array(0.4, 0.1, 0.0), Array(0.0, 0.3, 0.1),
      Array(0.1, 0.0, 0.2))
    val a2 = Array(Array(0.2, 0.0, 0.05), Array(0.05, 0.2, 0.0),
      Array(0.0, 0.05, 0.3))
    val cv = Array(1.0, 2.0, 0.5)
    val sims = seeds3.flatMap { case (k, seed) =>
      val r = new MersenneTwister(seed)
      var y1 = Array(2.0, 5.0, 1.0)
      var y2 = Array(2.0, 5.0, 1.0)
      (0 until 4000).map { t =>
        val nxt = new Array[Double](n)
        var i = 0
        while (i < n) {
          var v = cv(i)
          var j = 0
          while (j < n) { v += a1(i)(j) * y1(j) + a2(i)(j) * y2(j); j += 1 }
          nxt(i) = v + r.nextGaussian() * 0.1
          i += 1
        }
        y2 = y1; y1 = nxt
        (k, t.toLong, nxt(0), nxt(1), nxt(2))
      }
    }
    val df = sims.toDF("key", "ts_nanos", "x", "y", "z")
    val names = Seq("x", "y", "z")
    val ics = VectorAR.varpOrderSelect(df, 4, names).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))).toMap
    val best = VectorAR.varpBestOrder(df, 4, names).collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    val ldTruth = 3.0 * math.log(0.01)
    val rows = seeds3.flatMap { case (k, _) =>
      val all = (1 to 4).forall(p => ics.contains((k, p)))
      val (bA, bB, bH) = best(k)
      def aic(p: Int) = ics((k, p))._2
      def bic(p: Int) = ics((k, p))._3
      def hq(p: Int) = ics((k, p))._4
      Seq(
        (k, "all_orders_scored", all),
        (k, "bic_selects_true_order", bB == 2),
        (k, "hqic_selects_true_order", bH == 2),
        (k, "true_order_beats_underfit",
          aic(2) < aic(1) && bic(2) < bic(1) && hq(2) < hq(1)),
        (k, "best_aic_at_least_true", bA >= 2),
        (k, "sigma_matches_noise", math.abs(ics((k, bB))._1 - ldTruth) < 0.5))
    }
    rows.toDF("key", "check_name", "ok")
  }

  /** mr17 — impulse-response / FEVD recovery through the DISTRIBUTED
    * [[graft.models.VectorAR.varpIrf]]/`varpFevd` on the mr14 planted
    * trivariate VAR(2). Theorems (exact): Φ_0 = I; Θ_0 lower-triangular;
    * FEVD shares non-negative and summing to 1 per variable. Statistical
    * (tolerance vs the planted system): Φ_1 ≈ A₁ and Φ_2 ≈ A₁² + A₂.
    * Consistency (1e-9): the plain IRF must equal the Φ recursion replayed
    * from the operator's own varpFit coefficients — two independent code
    * paths over the same fit. */
  def irfRecover(s: SparkSession): DataFrame = {
    import s.implicits._
    val n = 3
    val a1 = Array(Array(0.4, 0.1, 0.0), Array(0.0, 0.3, 0.1),
      Array(0.1, 0.0, 0.2))
    val a2 = Array(Array(0.2, 0.0, 0.05), Array(0.05, 0.2, 0.0),
      Array(0.0, 0.05, 0.3))
    val cv = Array(1.0, 2.0, 0.5)
    val sims = seeds3.flatMap { case (k, seed) =>
      val r = new MersenneTwister(seed)
      var y1 = Array(2.0, 5.0, 1.0)
      var y2 = Array(2.0, 5.0, 1.0)
      (0 until 4000).map { t =>
        val nxt = new Array[Double](n)
        var i = 0
        while (i < n) {
          var v = cv(i)
          var j = 0
          while (j < n) { v += a1(i)(j) * y1(j) + a2(i)(j) * y2(j); j += 1 }
          nxt(i) = v + r.nextGaussian() * 0.1
          i += 1
        }
        y2 = y1; y1 = nxt
        (k, t.toLong, nxt(0), nxt(1), nxt(2))
      }
    }
    val df = sims.toDF("key", "ts_nanos", "x", "y", "z")
    val names = Seq("x", "y", "z")
    val irf = VectorAR.varpIrf(df, 2, 3, names).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3)) ->
        ((r.getDouble(4), r.getDouble(5)))).toMap
    val fevd = VectorAR.varpFevd(df, 2, 5, names).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        r.getDouble(4)).toMap
    val fit = VectorAR.varpFit(df, 2, names).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3)) ->
        r.getDouble(4)).toMap
    val fc = VectorAR.varpForecast(df, 2, 4, names).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(3)) -> r.getDouble(4))
      .toMap
    val iv = VectorAR.varpForecastIntervals(df, 2, 4, names).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(3)) ->
        ((r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))).toMap
    // planted Φ_2 = A₁² + A₂
    val phi2T = Array.tabulate(n, n) { (i, j) =>
      (0 until n).map(q => a1(i)(q) * a1(q)(j)).sum + a2(i)(j)
    }
    val idx = names.zipWithIndex.toMap
    val rows = seeds3.flatMap { case (k, _) =>
      val id0 = names.forall(r => names.forall(c =>
        irf((k, 0, c, r))._1 == (if (r == c) 1.0 else 0.0)))
      val lower = (for (ri <- 0 until n; ci <- 0 until n; if ci > ri) yield
        irf((k, 0, names(ci), names(ri)))._2 == 0.0).forall(identity)
      val phi1Err = (for (ri <- 0 until n; ci <- 0 until n) yield
        math.abs(irf((k, 1, names(ci), names(ri)))._1 - a1(ri)(ci))).max
      val phi2Err = (for (ri <- 0 until n; ci <- 0 until n) yield
        math.abs(irf((k, 2, names(ci), names(ri)))._1 - phi2T(ri)(ci))).max
      val sums = names.map(v => names.map(sh => fevd((k, v, sh))).sum)
      val sumOk = sums.forall(s0 => math.abs(s0 - 1.0) < 1e-9)
      val nonNeg = names.forall(v => names.forall(sh => fevd((k, v, sh)) >= 0.0))
      // replay Φ from the operator's own fitted coefficients
      def aHat(l: Int) = Array.tabulate(n, n)((r, c) =>
        fit((k, names(r), names(c), l)))
      val (h1, h2) = (aHat(1), aHat(2))
      val phi2R = Array.tabulate(n, n) { (i, j) =>
        (0 until n).map(q => h1(i)(q) * h1(q)(j)).sum + h2(i)(j)
      }
      val replayErr = (for (ri <- 0 until n; ci <- 0 until n) yield
        math.abs(irf((k, 2, names(ci), names(ri)))._1 - phi2R(ri)(ci))).max
      // intervals: point identical to varpForecast (same recursion, two
      // operators), se nondecreasing in h (MSE is a sum of PSD terms),
      // step-1 se = sqrt(sigma_ii) ~ the planted 0.1 noise, band brackets
      val ptOk = (for (s2 <- 1 to 4; e <- names) yield
        math.abs(iv((k, s2, e))._1 - fc((k, s2, e)))).max < 1e-12
      val seMono = names.forall(e => (1 to 3).forall(s2 =>
        iv((k, s2 + 1, e))._2 >= iv((k, s2, e))._2))
      val se1Ok = names.forall(e => math.abs(iv((k, 1, e))._2 - 0.1) < 0.01)
      val bracketOk = (1 to 4).forall(s2 => names.forall { e =>
        val (v, _, lo, hi) = iv((k, s2, e)); lo < v && v < hi
      })
      Seq(
        (k, "phi0_is_identity", id0),
        (k, "orth_step0_lower_triangular", lower),
        (k, "phi1_matches_planted", phi1Err < 0.08),
        (k, "phi2_matches_planted", phi2Err < 0.1),
        (k, "fevd_shares_sum_to_one", sumOk),
        (k, "fevd_shares_nonnegative", nonNeg),
        (k, "irf_consistent_with_fit", replayErr < 1e-9),
        (k, "interval_point_matches_forecast", ptOk),
        (k, "interval_se_nondecreasing", seMono),
        (k, "interval_se1_matches_noise", se1Ok),
        (k, "interval_brackets_point", bracketOk))
    }
    rows.toDF("key", "check_name", "ok")
  }

  /** mr18 — logistic-regression recovery through the DISTRIBUTED
    * [[graft.models.Logistic.logisticFit]]: simulate y ~
    * Bernoulli(sigmoid(β·x)) on seeded Gaussian features, fit through the
    * real operator, recover every coefficient within tolerance (n = 4000
    * ⇒ se ≈ 0.05; bound 0.25 is ~5σ). `score_calibrated` is a THEOREM of
    * the intercept-bearing MLE at convergence: the score equation forces
    * Σ(y − p̂) = 0, so mean(score) = mean(y) to the solver tolerance.
    * `separates` checks the fitted scores actually rank positives above
    * negatives. */
  def logitRecover(s: SparkSession): DataFrame = {
    import s.implicits._
    val bTrue = Array(-0.5, 1.2, -0.8) // intercept, x1, x2
    val rows = seeds3.flatMap { case (k, seed) =>
      val r = new MersenneTwister(seed)
      (0 until 4000).map { i =>
        val x1 = r.nextGaussian(); val x2 = r.nextGaussian()
        val p = 1.0 / (1.0 + math.exp(-(bTrue(0) + bTrue(1) * x1 + bTrue(2) * x2)))
        val y = if (r.nextDouble() < p) 1.0 else 0.0
        (k, i.toLong, x1, x2, y)
      }
    }
    val df = rows.toDF("key", "i", "x1", "x2", "y")
    // The three seeds' fit→score→metric pipelines are independent, and each
    // is a chain of many TINY Spark jobs (≤25 Newton collects + 3 metric
    // actions over 4k rows) — driver-sequential they leave the cluster idle
    // between jobs. Run them on a 3-thread pool so the jobs overlap
    // (guide §2.6); each fit is bit-deterministic (partition-order-sorted
    // combine) and results are gathered in seed order, so the output rows
    // are identical to the sequential loop.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(seeds3.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val perSeed = seeds3.map { case (k, _) => Future {
      val sub = df.filter(col("key") === k)
      val fit = Logistic.logisticFit(sub, "y", Seq("x1", "x2"))
      val coefs = fit.collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getBoolean(3)))).toMap
      val errs = Seq("intercept" -> bTrue(0), "x1" -> bTrue(1), "x2" -> bTrue(2))
        .map { case (t, v) => math.abs(coefs(t)._1 - v) }
      val scored = Logistic.logisticScore(sub, fit, Seq("x1", "x2"))
      val stats = scored.agg(avg(col("score")), avg(col("y")),
        avg(when(col("y") === 1.0, col("score"))),
        avg(when(col("y") === 0.0, col("score")))).head()
      // a planted sigmoid(-0.5 + 1.2x1 - 0.8x2) signal has Bayes AUC
      // ~0.83; the fitted scores must discriminate near that level
      val auc = Logistic.binaryMetrics(scored, "y", "score")
        .head().getAs[Double]("auc")
      Seq(
        (k, "coefs_recovered", errs.max < 0.25),
        (k, "converged", coefs("intercept")._2),
        (k, "score_calibrated", math.abs(stats.getDouble(0) - stats.getDouble(1)) < 1e-6),
        (k, "separates", stats.getDouble(2) > stats.getDouble(3) + 0.1),
        (k, "auc_discriminates", auc > 0.75))
    } }
    // r22 (ADVICE r21): on a failed or hung fit, stop the OTHER seeds'
    // threads too (shutdownNow interrupts them) instead of letting them
    // burn cluster time after the result is already lost; the generous
    // finite timeout turns a hung fit into a loud failure, never a
    // forever-blocked driver. Happy path unchanged (fits finish in
    // seconds; results still gathered in seed order).
    val out = try perSeed.flatMap(Await.result(_, Duration.create(10, "min")))
      catch { case e: Throwable => pool.shutdownNow(); throw e }
      finally pool.shutdown()
    out.toDF("key", "check_name", "ok")
  }

  /** mr15 — lag-p Granger recovery through the DISTRIBUTED
    * [[graft.models.VectorAR.grangerLagP]]: plant x →(lags 1,2)→ y with NO
    * reverse dependence; the forward F must reject overwhelmingly, the
    * reverse F must stay below the 0.1% critical value (seeded — the
    * booleans are deterministic), and the p=1 statistic must agree with
    * the closed-form [[graft.ts.TimeSeriesOps.grangerF]] to 1e-6 relative
    * (two independent formulations of the same test). */
  def grangerRecover(s: SparkSession): DataFrame = {
    import s.implicits._
    val sims = seeds3.flatMap { case (k, seed) =>
      val r = new MersenneTwister(seed)
      var x1 = 0.0; var x2 = 0.0; var y1 = 0.0
      (0 until 3000).map { t =>
        val nx = 0.5 * x1 + r.nextGaussian() * 0.5
        val ny = 0.3 * y1 + 0.4 * x1 + 0.25 * x2 + r.nextGaussian() * 0.5
        x2 = x1; x1 = nx; y1 = ny
        (k, t.toLong, ny, nx)
      }
    }
    val df = sims.toDF("key", "ts_nanos", "y", "x")
    def fMap(d: org.apache.spark.sql.DataFrame): Map[String, Double] =
      d.collect().map(r => r.getString(0) -> r.getAs[Double]("f_stat")).toMap
    val fwd = fMap(VectorAR.grangerLagP(df, 2))
    val rev = fMap(VectorAR.grangerLagP(df, 2, y = "x", x = "y"))
    val lag1 = fMap(VectorAR.grangerLagP(df, 1))
    val closed = graft.ts.TimeSeriesOps.grangerF(df).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("granger_f")).toMap
    val rows = seeds3.flatMap { case (k, _) =>
      val agree =
        math.abs(lag1(k) - closed(k)) / math.max(math.abs(closed(k)), 1e-12) < 1e-6
      // measured (GrangerProbe): fwd 511-549, rev 0.30-1.02 across seeds;
      // bounds with ~10x/6x margin; 6.91 is the F(2,inf) 0.1% critical value
      Seq((k, "x_causes_y_detected", fwd(k) > 50.0),
        (k, "reverse_direction_kept", rev(k) < 6.91),
        (k, "lag1_matches_closed_form", agree))
    }
    rows.toDF("key", "check_name", "ok")
  }

  /** Constant-SELECT DuckDB oracle: every (key, check) pair expected true. */
  private[graft] def oracleFor(group: String): String = {
    val rows = for ((k, _) <- keysOf(group); c <- checkNames(group))
      yield s"('$k', '$c', true)"
    "SELECT * FROM (VALUES " + rows.mkString(", ") +
      ") AS t(key, check_name, ok)"
  }

  def arima(s: SparkSession): DataFrame = run(s, seeds3, arimaKernel)
  def ar(s: SparkSession): DataFrame = run(s, seeds3, arKernel)
  def ewma(s: SparkSession): DataFrame = run(s, seeds3, ewmaKernel)
  def holtWinters(s: SparkSession): DataFrame = run(s, seeds3, holtWintersKernel)
  def garch(s: SparkSession): DataFrame = run(s, seeds3, garchKernel)
  def forecast(s: SparkSession): DataFrame = run(s, seeds3, forecastKernel)
  def autofit(s: SparkSession): DataFrame = run(s, seeds3, autofitKernel)
  def cochraneOrcutt(s: SparkSession): DataFrame = run(s, seeds3, cochraneOrcuttKernel)
  def arimax(s: SparkSession): DataFrame = run(s, seeds3, arimaxKernel)
  def stationarity(s: SparkSession): DataFrame = run(s, seeds3, stationarityKernel)
  def lmTests(s: SparkSession): DataFrame = run(s, seeds3, lmTestsKernel)
  def spline(s: SparkSession): DataFrame = run(s, seeds1, splineKernel)
  def rGoldens(s: SparkSession): DataFrame = run(s, seeds1, rGoldenKernel)
  def egarch(s: SparkSession): DataFrame = run(s, seeds3, egarchKernel)

  /** All kernels, locally (no Spark) — used by the probe and the spec. */
  def allLocal(): Seq[(String, Seq[Check])] = Seq(
    "arima" -> seeds3.flatMap(c => arimaKernel(c._1, c._2)),
    "ar" -> seeds3.flatMap(c => arKernel(c._1, c._2)),
    "ewma" -> seeds3.flatMap(c => ewmaKernel(c._1, c._2)),
    "holtwinters" -> seeds3.flatMap(c => holtWintersKernel(c._1, c._2)),
    "garch" -> seeds3.flatMap(c => garchKernel(c._1, c._2)),
    "forecast" -> seeds3.flatMap(c => forecastKernel(c._1, c._2)),
    "autofit" -> seeds3.flatMap(c => autofitKernel(c._1, c._2)),
    "cochrane_orcutt" -> seeds3.flatMap(c => cochraneOrcuttKernel(c._1, c._2)),
    "arimax" -> seeds3.flatMap(c => arimaxKernel(c._1, c._2)),
    "stationarity" -> seeds3.flatMap(c => stationarityKernel(c._1, c._2)),
    "lm_tests" -> seeds3.flatMap(c => lmTestsKernel(c._1, c._2)),
    "spline" -> seeds1.flatMap(c => splineKernel(c._1, c._2)),
    "rgolden" -> seeds1.flatMap(c => rGoldenKernel(c._1, c._2)),
    "egarch" -> seeds3.flatMap(c => egarchKernel(c._1, c._2)))
}

/** Dev probe: print the mr15 F statistics per seed (bound calibration). */
object GrangerProbe {
  def main(args: Array[String]): Unit = {
    val s = org.apache.spark.sql.SparkSession.builder()
      .master("local[8]").config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    import s.implicits._
    val sims = Recovery.seeds3.flatMap { case (k, seed) =>
      val r = new MersenneTwister(seed)
      var x1 = 0.0; var x2 = 0.0; var y1 = 0.0
      (0 until 3000).map { t =>
        val nx = 0.5 * x1 + r.nextGaussian() * 0.5
        val ny = 0.3 * y1 + 0.4 * x1 + 0.25 * x2 + r.nextGaussian() * 0.5
        x2 = x1; x1 = nx; y1 = ny
        (k, t.toLong, ny, nx)
      }
    }
    val df = sims.toDF("key", "ts_nanos", "y", "x")
    def show(tag: String, d: org.apache.spark.sql.DataFrame): Unit =
      d.collect().sortBy(_.getString(0)).foreach(r =>
        println(f"$tag ${r.getString(0)} f=${r.getAs[Double]("f_stat")}%.3f"))
    show("fwd p2", VectorAR.grangerLagP(df, 2))
    show("rev p2", VectorAR.grangerLagP(df, 2, y = "x", x = "y"))
    show("fwd p1", VectorAR.grangerLagP(df, 1))
    graft.ts.TimeSeriesOps.grangerF(df).collect().sortBy(_.getString(0))
      .foreach(r => println(f"closed ${r.getString(0)} f=${r.getAs[Double]("granger_f")}%.3f"))
    s.stop()
  }
}

/** Dev probe: print every check with its observed error (tolerance calibration). */
object RecoveryProbe {
  def main(args: Array[String]): Unit = {
    for ((group, checks) <- Recovery.allLocal(); c <- checks) {
      val flag = if (c.ok) "ok  " else "FAIL"
      println(f"$flag $group%-16s ${c.key}%-4s ${c.check}%-26s err=${c.err}%.6f")
    }
  }
}
