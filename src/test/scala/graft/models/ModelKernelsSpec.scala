package graft.models

import scala.concurrent.{ExecutionContext, Future}

import breeze.linalg.{DenseMatrix => BDM, eig}
import org.apache.commons.math3.random.MersenneTwister
import org.scalatest.concurrent.ScalaFutures
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.scalatest.time.{Seconds, Span}

/** Golden-value and property tests for the Spark-free model kernels,
  * mirroring the reference's test strategy (SURVEY §5). */
class ModelKernelsSpec extends AnyFunSuite with Matchers with ScalaFutures {

  // ---------------------------------------------------------------- ArrayOps

  test("diff/inverse round-trips at any order and lag") {
    val x = Array(1.0, 4.0, 9.0, 16.0, 25.0, 36.0, 49.0, 64.0)
    for (lag <- 1 to 3) {
      ArrayOps.inverseDiffAtLag(ArrayOps.diffAtLag(x, lag), lag) shouldBe x
    }
    for (d <- 0 to 3) {
      val diffed = ArrayOps.diffOfOrder(x, d)
      ArrayOps.inverseDiffOfOrder(diffed, d).zip(x).foreach { case (a, b) =>
        a shouldBe b +- 1e-9
      }
    }
  }

  test("acf of white noise is near zero, of a trend is near one") {
    val rand = new MersenneTwister(42L)
    val noise = Array.fill(5000)(rand.nextGaussian())
    ArrayOps.acf(noise, 3).foreach(a => math.abs(a) should be < 0.05)
    val trend = Array.tabulate(500)(_.toDouble)
    ArrayOps.acf(trend, 1)(0) should be > 0.98
  }

  // ---------------------------------------------------------------- AR

  test("AR(1) parameter recovery") {
    val model = ARModel(1.5, Array(0.2))
    val ts = model.sample(5000, new MersenneTwister(10L))
    val fit = Autoregression.fitModel(ts, 1)
    fit.c shouldBe 1.5 +- 0.07
    fit.coefficients(0) shouldBe 0.2 +- 0.03
  }

  test("AR(2) parameter recovery") {
    val model = ARModel(1.5, Array(0.2, 0.3))
    val ts = model.sample(5000, new MersenneTwister(10L))
    val fit = Autoregression.fitModel(ts, 2)
    fit.c shouldBe 1.5 +- 0.15
    fit.coefficients(0) shouldBe 0.2 +- 0.03
    fit.coefficients(1) shouldBe 0.3 +- 0.03
  }

  test("AR add/remove effects are exact inverses") {
    val rand = new MersenneTwister(7L)
    val ts = Array.fill(1000)(rand.nextDouble())
    val model = ARModel(1.5, Array(0.2, 0.3))
    val roundTrip = model.removeTimeDependentEffects(model.addTimeDependentEffects(ts))
    roundTrip.zip(ts).foreach { case (a, b) => a shouldBe b +- 1e-9 }
  }

  // ---------------------------------------------------------------- EWMA

  test("EWMA smoothing convention: s_t = a*x_t + (1-a)*s_{t-1}") {
    val orig = (1 to 10).map(_.toDouble).toArray
    val m1 = EWMAModel(0.2)
    val sm1 = m1.addTimeDependentEffects(orig)
    sm1(0) shouldBe orig(0)
    sm1(1) shouldBe 0.2 * orig(1) + 0.8 * sm1(0)
    math.round(sm1.last * 100) / 100.0 shouldBe 6.54
    val sm2 = EWMAModel(0.6).addTimeDependentEffects(orig)
    math.round(sm2.last * 100) / 100.0 shouldBe 9.33
  }

  test("EWMA remove inverts add") {
    val orig = (1 to 10).map(_.toDouble).toArray
    val m = EWMAModel(0.3)
    val rt = m.removeTimeDependentEffects(m.addTimeDependentEffects(orig))
    rt.zip(orig).foreach { case (a, b) => a shouldBe b +- 1e-9 }
  }

  test("EWMA fit on the fpp 7.1 oil series gives alpha ~ 0.89") {
    val oil = Array(446.7, 454.5, 455.7, 423.6, 456.3, 440.6, 425.3, 485.1,
      506.0, 526.8, 514.3, 494.2)
    val model = EWMA.fitModel(oil)
    (model.smoothing * 100).toInt shouldBe 89
  }

  // ---------------------------------------------------------------- GARCH

  test("GARCH log likelihood peaks near the generating parameters") {
    val model = GARCHModel(0.2, 0.3, 0.4)
    val rand = new MersenneTwister(5L)
    val ts = model.sample(10000, rand)
    val llRight = model.logLikelihood(ts)
    llRight should be > GARCHModel(0.3, 0.4, 0.5).logLikelihood(ts)
    llRight should be > GARCHModel(0.25, 0.35, 0.45).logLikelihood(ts)
    llRight should be > GARCHModel(0.1, 0.2, 0.3).logLikelihood(ts)
  }

  test("GARCH gradient signs point toward the generating parameters") {
    val gen = GARCHModel(0.2, 0.3, 0.4)
    val ts = gen.sample(10000, new MersenneTwister(5L))
    GARCHModel(0.3, 0.35, 0.5).gradient(ts).foreach(_ should be < 0.0)
    GARCHModel(0.1, 0.25, 0.3).gradient(ts).foreach(_ should be > 0.0)
  }

  test("GARCH fit recovers parameters") {
    val gen = ARGARCHModel(0.0, 0.0, 0.3, 0.5, 0.2)
    val ts = gen.sample(10000, new MersenneTwister(5L))
    val fit = GARCH.fitModel(ts)
    fit.omega shouldBe 0.2 +- 0.1
    fit.alpha shouldBe 0.3 +- 0.05
    fit.beta shouldBe 0.5 +- 0.1
  }

  test("ARGARCH add/remove effects are inverses") {
    val model = ARGARCHModel(40.0, 0.4, 0.2, 0.3, 0.4)
    val ts = model.sample(1000, new MersenneTwister(5L))
    val rt = model.addTimeDependentEffects(model.removeTimeDependentEffects(ts))
    rt.zip(ts).foreach { case (a, b) => a shouldBe b +- 1e-6 }
  }

  // ---------------------------------------------------------------- ARIMA

  private lazy val rArimaData: Array[Double] = {
    val in = getClass.getClassLoader.getResourceAsStream("R_ARIMA_DataSet1.csv")
    scala.io.Source.fromInputStream(in).getLines().map(_.toDouble).toArray
  }

  test("ARIMA(1,0,1) on the R arima.sim dataset recovers ar=0.3, ma=0.7") {
    val model = ARIMA.fitModel(1, 0, 1, rArimaData)
    val Array(c, ar, ma) = model.coefficients
    ar shouldBe 0.3 +- 0.05
    ma shouldBe 0.7 +- 0.05
  }

  test("ARIMA sample-then-refit recovers parameters") {
    val rand = new MersenneTwister(10L)
    val gen = ARIMAModel(2, 1, 2, Array(8.2, 0.2, 0.5, 0.3, 0.1))
    val sampled = gen.sample(1000, rand)
    val fit = ARIMA.fitModel(2, 1, 2, sampled)
    fit.coefficients(1) shouldBe 0.2 +- 0.1
    fit.coefficients(2) shouldBe 0.5 +- 0.1
    fit.coefficients(3) shouldBe 0.3 +- 0.1
    fit.coefficients(4) shouldBe 0.1 +- 0.1
  }

  test("ARIMA(1,0,1) fit is a local CSS likelihood maximum on the R dataset") {
    val fit = ARIMA.fitModel(1, 0, 1, rArimaData)
    val ll = fit.logLikelihood(rArimaData)
    for (i <- fit.coefficients.indices; h <- Seq(-1e-3, 1e-3)) {
      val moved = fit.coefficients.clone()
      moved(i) += h
      fit.copy(coefficients = moved).logLikelihood(rArimaData) should be <= ll + 1e-9
    }
  }

  test("ARIMA add/remove effects are inverses") {
    val model = ARIMAModel(1, 1, 1, Array(0.5, 0.3, 0.4))
    val ts = model.sample(200, new MersenneTwister(3L))
    val rt = model.addTimeDependentEffects(model.removeTimeDependentEffects(ts))
    rt.zip(ts).foreach { case (a, b) => a shouldBe b +- 1e-7 }
  }

  test("ARIMA(p,d,q) fit equals ARMA(p,q) fit on pre-differenced data") {
    val rand = new MersenneTwister(10L)
    val gen = ARIMAModel(1, 1, 1, Array(0.3, 0.4, 0.2))
    val sampled = gen.sample(800, rand)
    val m1 = ARIMA.fitModel(1, 1, 1, sampled)
    val diffed = ArrayOps.diffOfOrder(sampled, 1).drop(1)
    val m2 = ARIMA.fitModel(1, 0, 1, diffed)
    m1.coefficients.zip(m2.coefficients).foreach { case (a, b) => a shouldBe b +- 0.05 }
  }

  test("ARIMA stationarity/invertibility checks") {
    ARIMAModel(1, 0, 1, Array(0.0, 0.5, 0.3)).isStationary shouldBe true
    ARIMAModel(1, 0, 1, Array(0.0, 1.2, 0.3)).isStationary shouldBe false
    ARIMAModel(1, 0, 1, Array(0.0, 0.5, 0.3)).isInvertible shouldBe true
    ARIMAModel(1, 0, 1, Array(0.0, 0.5, 1.4)).isInvertible shouldBe false
    // the MA polynomial is 1 + Σ θ_j z^j: θ = (1.2, 0.5) has roots of
    // modulus √2, θ = (-1.2, -0.5) a root at 0.655
    ARIMAModel(0, 0, 2, Array(0.0, 1.2, 0.5)).isInvertible shouldBe true
    ARIMAModel(0, 0, 2, Array(0.0, -1.2, -0.5)).isInvertible shouldBe false
    // a NaN coefficient fails loudly (autoFit and skipOnFailure drop the key)
    an[IllegalArgumentException] should be thrownBy
      ARIMAModel(2, 0, 0, Array(0.0, Double.NaN, 0.1)).isStationary
    // ±Inf is not stationary; the time limit catches a root solver that
    // spins on it (LAPACK's dgeev does)
    for (inf <- Seq(Double.PositiveInfinity, Double.NegativeInfinity))
      Future(ARIMAModel(2, 0, 0, Array(0.0, inf, 0.1)).isStationary)(ExecutionContext.global)
        .futureValue(timeout(Span(5, Seconds))) shouldBe false
  }

  /** The companion-matrix spectral radius through breeze's `eig`: the root
    * test ARIMAModel made before its Schur–Cohn step-down, kept as the
    * reference the step-down is compared with. */
  private def maxCompanionEigenvalue(coefs: Array[Double]): Double = {
    val k = coefs.length
    if (k == 0) return 0.0
    val m = BDM.zeros[Double](k, k)
    for (j <- 0 until k) m(0, j) = coefs(j)
    for (i <- 1 until k) m(i, i - 1) = 1.0
    val ev = eig(m)
    var mx = 0.0
    for (i <- 0 until k) {
      val mod = math.hypot(ev.eigenvalues(i), ev.eigenvaluesComplex(i))
      if (mod > mx) mx = mod
    }
    mx
  }

  test("ARIMA root test agrees with the companion-matrix spectral radius") {
    val rand = new MersenneTwister(15L)
    var compared = 0
    var stationary = 0
    while (compared < 20000) {
      val k = 1 + rand.nextInt(6)
      val scale = if (rand.nextBoolean()) 1.0 else 2.5
      val coefs = Array.fill(k)(scale * (2 * rand.nextDouble() - 1))
      val radius = maxCompanionEigenvalue(coefs)
      if (math.abs(radius - 1.0) >= 1e-9) {
        val m = ARIMAModel(k, 0, 0, coefs, hasIntercept = false)
        withClue(s"AR coefficients ${coefs.mkString(", ")}, spectral radius $radius: ") {
          m.isStationary shouldBe radius < 1.0
        }
        if (radius < 1.0) stationary += 1
        compared += 1
      }
    }
    // both answers are well represented in the sample
    stationary should be > 2000
    stationary should be < 18000
  }

  test("ARIMA forecast extends the series plausibly") {
    val model = ARIMA.fitModel(1, 0, 1, rArimaData)
    val fc = model.forecast(rArimaData, 10)
    fc.length shouldBe rArimaData.length + 10
    val mean = ArrayOps.mean(rArimaData)
    fc.takeRight(10).foreach { v =>
      v shouldBe mean +- 4 * math.sqrt(ArrayOps.variance(rArimaData))
    }
  }

  test("ARIMA autoFit chooses d=0 on stationary data, d>=1 on a random walk") {
    val m1 = ARIMA.autoFit(rArimaData, maxP = 2, maxQ = 2)
    m1.d shouldBe 0
    m1.isStationary shouldBe true
    val rand = new MersenneTwister(21L)
    var s = 0.0
    val walk = Array.fill(400) { s += rand.nextGaussian(); s }
    val m2 = ARIMA.autoFit(walk, maxP = 2, maxQ = 2)
    m2.d should be >= 1
  }

  // ---------------------------------------------------------------- ARX / ARIMAX / Cochrane-Orcutt

  test("ARX recovers a known linear + lag structure") {
    val rand = new MersenneTwister(11L)
    val n = 2000
    val x = Array.fill(n)(Array(rand.nextGaussian()))
    val y = new Array[Double](n)
    var t = 1
    y(0) = 1.0
    while (t < n) {
      y(t) = 2.0 + 0.5 * y(t - 1) + 1.5 * x(t)(0) + 0.1 * rand.nextGaussian()
      t += 1
    }
    val fit = AutoregressionX.fitModel(y, x, 1, 0, includeCurrentX = true)
    fit.c shouldBe 2.0 +- 0.1
    fit.arCoefs(0) shouldBe 0.5 +- 0.05
    fit.xCoefs(0)(0) shouldBe 1.5 +- 0.05
  }

  test("ARIMAX fit captures exogenous impact") {
    val rand = new MersenneTwister(12L)
    val n = 1500
    val x = Array.fill(n)(Array(rand.nextGaussian()))
    val y = new Array[Double](n)
    y(0) = 0.0
    var t = 1
    while (t < n) {
      y(t) = 1.0 + 0.4 * y(t - 1) + 2.0 * x(t)(0) + 0.5 * x(t - 1)(0) + 0.1 * rand.nextGaussian()
      t += 1
    }
    val fit = ARIMAX.fitModel(1, 0, 0, y, x, xLag = 1)
    fit.intercept shouldBe 1.0 +- 0.15
    fit.arCoefs(0) shouldBe 0.4 +- 0.05
    fit.xCoefs(0)(0) shouldBe 2.0 +- 0.1
    fit.xCoefs(0)(1) shouldBe 0.5 +- 0.1
  }

  test("Cochrane-Orcutt recovers regression under AR(1) errors") {
    val rand = new MersenneTwister(13L)
    val n = 3000
    val x = Array.fill(n)(Array(rand.nextGaussian()))
    val y = new Array[Double](n)
    var u = 0.0
    var t = 0
    while (t < n) {
      u = 0.6 * u + rand.nextGaussian() * 0.5
      y(t) = 3.0 + 2.5 * x(t)(0) + u
      t += 1
    }
    val fit = RegressionARIMA.fitCochraneOrcutt(y, x)
    fit.beta(0) shouldBe 3.0 +- 0.2
    fit.beta(1) shouldBe 2.5 +- 0.1
    fit.rho shouldBe 0.6 +- 0.1
  }

  // ---------------------------------------------------------------- HoltWinters

  val airPassengers: Array[Double] = Array(
    112.0, 118.0, 132.0, 129.0, 121.0, 135.0, 148.0, 148.0, 136.0, 119.0, 104.0, 118.0,
    115.0, 126.0, 141.0, 135.0, 125.0, 149.0, 170.0, 170.0, 158.0, 133.0, 114.0, 140.0,
    145.0, 150.0, 178.0, 163.0, 172.0, 178.0, 199.0, 199.0, 184.0, 162.0, 146.0, 166.0,
    171.0, 180.0, 193.0, 181.0, 183.0, 218.0, 230.0, 242.0, 209.0, 191.0, 172.0, 194.0,
    196.0, 196.0, 236.0, 235.0, 229.0, 243.0, 264.0, 272.0, 237.0, 211.0, 180.0, 201.0,
    204.0, 188.0, 235.0, 227.0, 234.0, 264.0, 302.0, 293.0, 259.0, 229.0, 203.0, 229.0,
    242.0, 233.0, 267.0, 269.0, 270.0, 315.0, 364.0, 347.0, 312.0, 274.0, 237.0, 278.0,
    284.0, 277.0, 317.0, 313.0, 318.0, 374.0, 413.0, 405.0, 355.0, 306.0, 271.0, 306.0,
    315.0, 301.0, 356.0, 348.0, 355.0, 422.0, 465.0, 467.0, 404.0, 347.0, 305.0, 336.0,
    340.0, 318.0, 362.0, 348.0, 363.0, 435.0, 491.0, 505.0, 404.0, 359.0, 310.0, 337.0,
    360.0, 342.0, 406.0, 396.0, 420.0, 472.0, 548.0, 559.0, 463.0, 407.0, 362.0, 405.0,
    417.0, 391.0, 419.0, 461.0, 472.0, 535.0, 622.0, 606.0, 508.0, 461.0, 390.0, 432.0)

  test("HoltWinters additive on AirPassengers matches R's fitted parameters") {
    val model = HoltWinters.fitModel(airPassengers, 12, "additive")
    model.alpha shouldBe 0.24796 +- 0.02
    model.beta shouldBe 0.03453 +- 0.02
    model.gamma shouldBe 1.0 +- 0.02
  }

  test("HoltWinters additive forecast matches R forecast.HoltWinters") {
    val model = HoltWinters.fitModel(airPassengers, 12, "additive")
    val expected = Array(453.4977, 429.3906, 467.0361, 503.2574, 512.3395,
      571.8880, 652.6095, 637.4623, 539.7548, 490.7250, 424.4593, 469.5315)
    val fc = model.forecast(airPassengers, 12)
    fc.zip(expected).foreach { case (a, b) => a shouldBe b +- 10.0 }
  }
}
