package graft.models

import java.lang.Double.doubleToLongBits

import org.apache.commons.math3.random.MersenneTwister
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The ARMA recursion [[ARMA]] against the loops it replaced: ARIMA's and
  * ARIMAX's residual, CSS and forecast-extension loops as they were before
  * the kernel, copied here as references, compared bit for bit. */
class ARMASpec extends AnyFunSuite with Matchers {

  // ------------------------------------------------- references

  private def arimaResiduals(m: ARIMAModel, z: Array[Double]): Array[Double] = {
    val c = m.intercept
    val phi = m.arCoefs
    val theta = m.maCoefs
    val n = z.length
    val e = new Array[Double](n)
    var t = m.p
    while (t < n) {
      var pred = c
      var i = 0
      while (i < m.p) { pred += phi(i) * z(t - 1 - i); i += 1 }
      var j = 0
      while (j < m.q) {
        if (t - 1 - j >= 0) pred += theta(j) * e(t - 1 - j)
        j += 1
      }
      e(t) = z(t) - pred
      t += 1
    }
    e
  }

  private def arimaLogLikelihoodCSS(m: ARIMAModel, diffed: Array[Double]): Double = {
    val e = arimaResiduals(m, diffed)
    val n = diffed.length - m.p
    var ss = 0.0
    var t = m.p
    while (t < diffed.length) { ss += e(t) * e(t); t += 1 }
    val sigma2 = ss / n
    -0.5 * n * (math.log(2 * math.Pi * sigma2) + 1.0)
  }

  /** ARIMA's forecast loop over the extended series from `from` on. */
  private def arimaExtend(m: ARIMAModel, zext: Array[Double], eext: Array[Double],
      from: Int): Unit = {
    val c = m.intercept
    val phi = m.arCoefs
    val theta = m.maCoefs
    var t = from
    while (t < zext.length) {
      var pred = c
      var i = 0
      while (i < m.p) { if (t - 1 - i >= 0) pred += phi(i) * zext(t - 1 - i); i += 1 }
      var j = 0
      while (j < m.q) { if (t - 1 - j >= 0) pred += theta(j) * eext(t - 1 - j); j += 1 }
      zext(t) = pred
      eext(t) = 0.0
      t += 1
    }
  }

  private def arimaxExog(m: ARIMAXModel, x: Array[Array[Double]], t: Int): Double = {
    var v = 0.0
    var k = 0
    while (k < m.nXCols) {
      val beta = m.xCoefs(k)
      var l = 0
      while (l <= m.xLag) {
        if (t - l >= 0) v += beta(l) * x(t - l)(k)
        l += 1
      }
      k += 1
    }
    v
  }

  private def arimaxResiduals(m: ARIMAXModel, z: Array[Double],
      x: Array[Array[Double]]): Array[Double] = {
    val e = new Array[Double](z.length)
    val start = math.max(m.p, m.xLag)
    var t = start
    while (t < z.length) {
      var pred = m.intercept + arimaxExog(m, x, t)
      var i = 0
      while (i < m.p) { pred += m.arCoefs(i) * z(t - 1 - i); i += 1 }
      var j = 0
      while (j < m.q) { if (t - 1 - j >= 0) pred += m.maCoefs(j) * e(t - 1 - j); j += 1 }
      e(t) = z(t) - pred
      t += 1
    }
    e
  }

  private def arimaxCss(m: ARIMAXModel, z: Array[Double], x: Array[Array[Double]]): Double = {
    val e = arimaxResiduals(m, z, x)
    var s = 0.0
    var t = math.max(m.p, m.xLag)
    while (t < z.length) { s += e(t) * e(t); t += 1 }
    s
  }

  /** ARIMAX's forecast loop over the extended series from `from` on. */
  private def arimaxExtend(m: ARIMAXModel, zext: Array[Double], eext: Array[Double],
      xAll: Array[Array[Double]], from: Int): Unit = {
    var t = from
    while (t < zext.length) {
      var pred = m.intercept + arimaxExog(m, xAll, t)
      var i = 0
      while (i < m.p) { if (t - 1 - i >= 0) pred += m.arCoefs(i) * zext(t - 1 - i); i += 1 }
      var j = 0
      while (j < m.q) { if (t - 1 - j >= 0) pred += m.maCoefs(j) * eext(t - 1 - j); j += 1 }
      zext(t) = pred
      t += 1
    }
  }

  // ------------------------------------------------- property

  private def sameBits(what: => String, got: Double, want: Double): Unit =
    if (doubleToLongBits(got) != doubleToLongBits(want)) fail(s"$what: got $got, want $want")

  private def sameBits(what: => String, got: Array[Double], want: Array[Double]): Unit = {
    if (got.length != want.length) fail(s"$what: length ${got.length}, want ${want.length}")
    for (t <- got.indices) sameBits(s"$what($t)", got(t), want(t))
  }

  test("the ARMA kernel matches ARIMA's and ARIMAX's former loops bit for bit") {
    val rand = new MersenneTwister(171L)
    // one value in `every` is −0.0, 0.0, +Inf, −Inf or NaN
    def draw(scale: Double, every: Int): Double = rand.nextInt(every) match {
      case 0 => -0.0
      case 1 => 0.0
      case 2 => Double.PositiveInfinity
      case 3 => Double.NegativeInfinity
      case 4 => Double.NaN
      case _ => scale * rand.nextGaussian()
    }
    var nonFinite = 0
    for (_ <- 0 until 20000) {
      val n = 5 + rand.nextInt(96)
      val (p, q, ic) = (rand.nextInt(4), rand.nextInt(4), rand.nextBoolean())
      val (xLag, nX) = (rand.nextInt(3), rand.nextInt(3))
      val h = rand.nextInt(6)
      val z = Array.fill(n)(draw(2.0, 200))
      val xAll = Array.fill(n + h)(Array.fill(nX)(draw(1.0, 200)))
      val x = xAll.take(n)
      val nArima = (if (ic) 1 else 0) + p + q
      val nArimax = nArima + nX * (xLag + 1)
      // one objective per shape, evaluated at three points: its scratch
      // array carries nothing from one evaluation to the next
      val arimaObj = ARIMA.cssObjective(p, q, z, ic)
      val arimaxObj = ARIMAX.cssObjective(p, q, z, x, xLag, nX, ic)
      for (_ <- 0 until 3) {
        val coefs = Array.fill(nArima)(draw(0.6, 40))
        val m = ARIMAModel(p, 0, q, coefs, ic)
        val e = new Array[Double](n)
        ARMA.residuals(coefs, ic, p, q, z, e)
        sameBits("ARIMA e", e, arimaResiduals(m, z))
        val ll = arimaLogLikelihoodCSS(m, z)
        sameBits("ARIMA logLikelihoodCSS", m.logLikelihoodCSS(z), ll)
        sameBits("ARIMA objective", arimaObj.value(coefs), -ll)
        if (ll.isNaN || ll.isInfinite) nonFinite += 1

        val params = Array.fill(nArimax)(draw(0.6, 40))
        val mx = ARIMAXModel(p, 0, q, xLag, nX, params, ic)
        val ex = new Array[Double](n)
        val css = arimaxCss(mx, z, x)
        sameBits("ARIMAX css", ARMA.residuals(params, ic, p, q, z, ex, x, xLag, nX), css)
        sameBits("ARIMAX e", ex, arimaxResiduals(mx, z, x))
        sameBits("ARIMAX model css", mx.css(z, x), css)
        sameBits("ARIMAX objective", arimaxObj.value(params), css)
      }
      val coefs = Array.fill(nArima)(draw(0.6, 40))
      val m = ARIMAModel(p, 0, q, coefs, ic)
      val zext = java.util.Arrays.copyOf(z, n + h)
      val eext = java.util.Arrays.copyOf(arimaResiduals(m, z), n + h)
      arimaExtend(m, zext, eext, n)
      val (zk, ek) = ARMA.forecast(coefs, ic, p, q, z, h)
      sameBits("ARIMA forecast z", zk, zext)
      sameBits("ARIMA forecast e", ek, eext)

      val params = Array.fill(nArimax)(draw(0.6, 40))
      val mx = ARIMAXModel(p, 0, q, xLag, nX, params, ic)
      val zxext = java.util.Arrays.copyOf(z, n + h)
      val exext = java.util.Arrays.copyOf(arimaxResiduals(mx, z, x), n + h)
      arimaxExtend(mx, zxext, exext, xAll, n)
      val (zxk, exk) = ARMA.forecast(params, ic, p, q, z, h, xAll, xLag, nX)
      sameBits("ARIMAX forecast z", zxk, zxext)
      sameBits("ARIMAX forecast e", exk, exext)
    }
    // finite and non-finite likelihoods are both well represented
    nonFinite should be > 3000
    nonFinite should be < 57000
  }
}
