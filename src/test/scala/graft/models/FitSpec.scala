package graft.models

import java.io.File
import java.lang.management.ManagementFactory

import scala.io.Source

import org.apache.commons.math3.analysis.MultivariateFunction
import org.apache.commons.math3.exception.TooManyEvaluationsException
import org.apache.commons.math3.random.MersenneTwister
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The fitting seam [[Fit]]: its statuses, penalty wall and Brent path, the
  * bit-identity pins of every model fit that runs through it, and the
  * guard that keeps it the only user of commons-math's optimizers. */
class FitSpec extends AnyFunSuite with Matchers {

  private val bowl: MultivariateFunction =
    x => (x(0) - 1) * (x(0) - 1) + (x(1) + 2) * (x(1) + 2)

  test("Nelder-Mead converges to the minimum") {
    val r = Fit.nelderMead(bowl, Array(0.0, 0.0), 0.1, 1e-12, 1e-14, 5000)
    r.status shouldBe Fit.Status.Converged
    r.point(0) shouldBe 1.0 +- 1e-4
    r.point(1) shouldBe -2.0 +- 1e-4
    r.evaluations should (be > 0 and be <= 5000)
  }

  test("a fit out of evaluations returns its start with status MaxEval") {
    val start = Array(0.0, 0.0)
    val r = Fit.nelderMead(bowl, start, 0.1, 1e-12, 1e-14, 5)
    r.status shouldBe Fit.Status.MaxEval
    r.point shouldBe start
    val b = Fit.bobyqa(bowl, start, Array(-50.0, -50.0), Array(50.0, 50.0), 6)
    b.status shouldBe Fit.Status.MaxEval
    b.point shouldBe start
  }

  test("an objective that throws fails the fit back to its start") {
    val start = Array(0.5, 0.5)
    val r = Fit.nelderMead(_ => throw new ArithmeticException("boom"), start, 0.1,
      1e-10, 1e-12, 1000)
    r.status shouldBe Fit.Status.Failed
    r.point shouldBe start
  }

  test("the penalty walls off the box and non-finite values") {
    val f = Fit.penalized(1e12, Array(0.0, 0.0), Array(1.0, 1.0))(
      x => if (x(0) == 0.5) Double.NaN else if (x(0) == 0.25) Double.NegativeInfinity
        else x(0) + x(1))
    f.value(Array(0.1, 0.2)) shouldBe 0.1 + 0.2
    f.value(Array(-0.1, 0.2)) shouldBe 1e12
    f.value(Array(0.1, 1.5)) shouldBe 1e12
    f.value(Array(0.5, 0.2)) shouldBe 1e12
    f.value(Array(0.25, 0.2)) shouldBe 1e12
    // no box: only the non-finite wall
    Fit.penalized(7.0)(x => x(0)).value(Array(-1e300)) shouldBe -1e300
    Fit.penalized(7.0)(x => 1.0 / x(0)).value(Array(0.0)) shouldBe 7.0
    // a minimum outside the box: Nelder-Mead stops on its wall
    val r = Fit.nelderMead(Fit.penalized(1e12, Array(0.0), Array(1.0))(x => (x(0) - 3) * (x(0) - 3)),
      Array(0.5), 0.1, 1e-12, 1e-14, 5000)
    r.status shouldBe Fit.Status.Converged
    r.point(0) should (be <= 1.0 and be > 0.99)
  }

  test("Brent finds a 1-D minimum and propagates running out of evaluations") {
    val r = Fit.brent(a => (a - 0.3) * (a - 0.3), 0.0, 1.0, 1e-10, 1e-12, 1000)
    r.status shouldBe Fit.Status.Converged
    r.point.length shouldBe 1
    r.point(0) shouldBe 0.3 +- 1e-6
    r.evaluations should be > 0
    a[TooManyEvaluationsException] should be thrownBy
      Fit.brent(a => (a - 0.3) * (a - 0.3), 0.0, 1.0, 1e-10, 1e-12, 3)
  }

  // ------------------------------------------------- bit-identity pins
  // Fitted parameters and forecasts as hex doubles, each recorded before a
  // refactor of the code it runs through (the fitting seam; the ARMA
  // recursion). A change here is a change of every m* output that fits.

  private def gauss(n: Int, seed: Long): Array[Double] = {
    val r = new MersenneTwister(seed)
    Array.fill(n)(r.nextGaussian())
  }

  private def pinned: Seq[(String, () => Array[Double], Seq[String])] = {
    val arma = ARIMAModel(1, 0, 1, Array(8.7, 0.3, 0.7)).sample(300, new MersenneTwister(11L))
    val ar = ARIMAModel(1, 0, 0, Array(0.6), hasIntercept = false)
      .sample(300, new MersenneTwister(12L))
    val x = gauss(400, 13L)
    val e = gauss(400, 14L)
    val y = new Array[Double](400)
    for (t <- 0 until 400)
      y(t) = 4.0 + 0.4 * (if (t > 0) y(t - 1) else 0.0) + 1.5 * x(t) +
        0.8 * (if (t > 0) x(t - 1) else 0.0) + e(t)
    val garch = GARCHModel(0.1, 0.15, 0.75).sample(500, new MersenneTwister(15L))
    val egarch = EGARCHModel(-0.2, 0.25, -0.15, 0.9).sample(500, new MersenneTwister(16L))
    val noise = gauss(96, 17L)
    val seasonal = Array.tabulate(96)(i =>
      10.0 + 0.1 * i + 3.0 * math.sin(2 * math.Pi * i / 12) + noise(i))
    val shocks = gauss(500, 18L)
    val ses = shocks.scanLeft(10.0)(_ + 0.4 * _).init.zip(shocks).map { case (l, s) => l + s }
    def hw(m: HoltWintersModel) = Array(m.alpha, m.beta, m.gamma)
    val arima212 = ARIMAModel(2, 1, 2, Array(0.3, 0.4, 0.25, 0.35, 0.2))
      .sample(300, new MersenneTwister(19L))
    val ma1 = ARIMAModel(0, 0, 1, Array(0.6), hasIntercept = false)
      .sample(300, new MersenneTwister(20L))
    val xm = gauss(401, 21L)
    val em = gauss(401, 22L)
    val ym = new Array[Double](401)
    for (t <- 0 until 401)
      ym(t) = 4.0 + 0.4 * (if (t > 0) ym(t - 1) else 0.0) + 0.5 * (if (t > 0) em(t - 1) else 0.0) +
        1.5 * xm(t) + 0.8 * (if (t > 0) xm(t - 1) else 0.0) + em(t)
    // the first 395 points are fitted, the last 6 x rows drive the forecast
    val (yFit, xFit, xFuture) = (ym.take(395), xm.take(395).map(Array(_)), xm.drop(395).map(Array(_)))
    Seq(
      ("ARIMA(1,0,1), Nelder-Mead", () => ARIMA.fitModel(1, 0, 1, arma).coefficients,
        Seq("0x1.19c745d1db347p3", "0x1.2f4e4906bea2p-2", "0x1.51b5a9af19e6dp-1")),
      ("ARIMA(1,0,0) without intercept, Brent",
        () => ARIMA.fitModel(1, 0, 0, ar, includeIntercept = false).coefficients,
        Seq("0x1.3c1e1b8c18fe1p-1")),
      ("ARIMAX(1,0,0; xLag 1), BOBYQA",
        () => ARIMAX.fitModel(1, 0, 0, y, x.map(Array(_)), xLag = 1).params,
        Seq("0x1.e5ba522cf3341p1", "0x1.bcb761bf55df5p-2", "0x1.7fce32a6afap0",
          "0x1.bd7eccba77a0fp-1")),
      ("GARCH(1,1), Nelder-Mead",
        () => { val m = GARCH.fitModel(garch); Array(m.omega, m.alpha, m.beta) },
        Seq("0x1.133ed8df050cep-3", "0x1.c0bbee703988cp-4", "0x1.893ee343543fp-1")),
      ("EGARCH(1,1), Nelder-Mead",
        () => { val m = EGARCH.fitModel(egarch); Array(m.omega, m.alpha, m.gamma, m.beta) },
        Seq("-0x1.0f71b014e7136p-2", "0x1.c430e360f7743p-3", "-0x1.e27e1444e1647p-4",
          "0x1.bca8a9ee68d34p-1")),
      ("Holt-Winters additive, grid + Nelder-Mead", () => hw(HoltWinters.fitModel(seasonal, 12)),
        Seq("0x1.0f11b75256ddep-4", "0x1.143fb9504abefp-6", "0x1.663b1534dc6f6p-2")),
      ("Holt-Winters multiplicative, grid + Nelder-Mead",
        () => hw(HoltWinters.fitModel(seasonal, 12, "multiplicative")),
        Seq("0x1.b5bbf51f6a7f9p-6", "0x1.17daba341d526p-8", "0x1.033c4d7f0ff26p-1")),
      ("EWMA, Brent", () => Array(EWMA.fitModel(ses).smoothing), Seq("0x1.8be69cfb4175cp-2")),
      ("ARIMA(2,1,2), Nelder-Mead", () => ARIMA.fitModel(2, 1, 2, arima212).coefficients,
        Seq("0x1.fffa4a3bd14f1p-3", "-0x1.c6b8ae1e899fcp-3", "0x1.61dc54a4f7f74p-1",
          "0x1.012fe3c28598ap0", "0x1.e1aa516bb6deep-6")),
      ("ARIMA(2,1,2) forecast",
        () => ARIMA.fitModel(2, 1, 2, arima212).forecast(arima212, 6).takeRight(8),
        Seq("0x1.ccafe11281fb6p6", "0x1.db0b66cf863ddp6", "0x1.dcb6947563af9p6",
          "0x1.e192463e4bd22p6", "0x1.e57f9a41a67bfp6", "0x1.e8fbefa605215p6",
          "0x1.ebec9d7236a23p6", "0x1.eeae35109f238p6")),
      ("ARIMA(0,0,1) without intercept, Brent",
        () => ARIMA.fitModel(0, 0, 1, ma1, includeIntercept = false).coefficients,
        Seq("0x1.1e15072dc49b4p-1")),
      ("ARIMAX(1,0,1; xLag 1), BOBYQA",
        () => ARIMAX.fitModel(1, 0, 1, yFit, xFit, xLag = 1).params,
        Seq("0x1.18e54278b7ee7p2", "0x1.79d1a99b62e96p-2", "0x1.060a3945aac3p-1",
          "0x1.673323543d7dcp0", "0x1.9ebb2241d5e46p-1")),
      ("ARIMAX(1,0,1; xLag 1) forecast",
        () => ARIMAX.fitModel(1, 0, 1, yFit, xFit, xLag = 1).forecast(yFit, xFit, xFuture),
        Seq("0x1.0ba03cf8e3cfcp3", "0x1.fecb239738b46p2", "0x1.b29962d373472p2",
          "0x1.97e116fa660fp2", "0x1.0ed84526758bdp2", "0x1.8e83d2d1566b4p1")))
  }

  for ((name, fit, hex) <- pinned) test(s"pin: $name is bit-identical") {
    val got = fit()
    withClue(s"got ${got.map(java.lang.Double.toHexString).mkString("Seq(\"", "\", \"", "\")")}: ") {
      got.length shouldBe hex.length
      got.zip(hex).foreach { case (g, h) => assert(g == java.lang.Double.parseDouble(h)) }
    }
  }

  // ------------------------------------------------- allocation guard

  test("the ARIMA and ARIMAX objectives allocate nothing per evaluation") {
    val bean = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    val z = gauss(200, 24L)
    val x = gauss(200, 25L).map(Array(_))
    for ((name, f, params) <- Seq(
        ("ARIMA(2,0,2)", ARIMA.cssObjective(2, 2, z, includeIntercept = true),
          Array(0.1, 0.3, 0.2, 0.4, 0.1)),
        ("ARIMAX(1,0,1; xLag 1)", ARIMAX.cssObjective(1, 1, z, x, 1, 1, includeIntercept = true),
          Array(0.1, 0.3, 0.2, 1.0, 0.5)))) {
      val first = f.value(params)
      val before = bean.getCurrentThreadAllocatedBytes
      var same = 0
      while (same < 10000 && f.value(params) == first) same += 1
      val grown = bean.getCurrentThreadAllocatedBytes - before
      same shouldBe 10000
      withClue(s"$name: $grown bytes over 10,000 evaluations: ") { grown should be < (1L << 20) }
    }
  }

  // ------------------------------------------------- single-seam guard

  test("only graft/models/Fit.scala uses commons-math's optimizers") {
    val root = new File("src/main/scala")
    def files(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f).filter(_.getName.endsWith(".scala"))
    val all = files(root)
    all should not be empty
    val optim = """org\.apache\.commons\.math3\.optim\b""".r
    val users = all.filter { f =>
      val src = Source.fromFile(f, "UTF-8")
      try optim.findFirstIn(src.mkString).isDefined finally src.close()
    }.map(f => root.toPath.relativize(f.toPath).toString)
    users shouldBe Seq("graft/models/Fit.scala")
  }
}
