package graft.models

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * n-variate VAR(p) — the general vector autoregression the bivariate
 * closed form ([[graft.ts.TimeSeriesOps.varFit]]) opened:
 *   y_t = c + A_1·y_{t−1} + … + A_p·y_{t−p} + ε,  y_t ∈ R^n.
 * Estimated per key by equation-wise OLS (the standard VAR estimator —
 * every equation shares the design matrix [1, y_{t−1}, …, y_{t−p}], so one
 * Gram matrix serves all n equations; Lütkepohl, "New Introduction to
 * Multiple Time Series Analysis", ch. 3).
 *
 * Scale design: one [[PerSeries]] lift (one shuffle on the key); each task
 * streams its series once, accumulating the (1+np)×(1+np) Gram matrix and the
 * (1+np)×n cross-moment matrix — O((np)²) memory per series regardless of
 * length, no T×m design matrix materialized — then solves the normal
 * equations locally by Gaussian elimination with partial pivoting (no
 * matrix library). A singular Gram matrix (collinear or constant
 * regressors) yields no rows for that key, never a fabricated solve —
 * the same honesty contract as varFit's det ≤ 0 null.
 *
 * The reference fits univariate models only (reference
 * models/Autoregression.scala:31-78); this extends SURVEY §2.8's
 * multivariate block past bivariate VAR(1).
 */
object VectorAR {

  /** Long-format fit rows: one per (equation, regressor). `term` is "c"
    * (lag 0) for the intercept, else the lagged series name. */
  case class VarpCoef(key: String, eq: String, term: String, lag: Int,
      coef: Double)

  /** Per-key h-step iterated forecast point for one component series. */
  case class VarpForecast(key: String, step: Int, ts: Long, eq: String,
      value: Double)

  /**
   * Fit VAR(p) per key over the wide columns `valueCols`. Output: one row
   * per (key, equation, term) — `eq` names the target column, `term` the
   * regressor column (or "c"), `lag` in 1..p (0 for the intercept).
   * Rows with any null component are dropped (a missing point cannot
   * enter a lag-aligned design row).
   */
  def varpFit(df: DataFrame, p: Int, valueCols: Seq[String],
      key: String = "key", ts: String = "ts_nanos"): DataFrame = {
    require(p >= 1, "p >= 1")
    require(valueCols.nonEmpty, "valueCols must be non-empty")
    val names = valueCols.toArray
    val n = names.length
    PerSeries.rows(df, key, ts, valueCols) { (k, _, y) =>
      fitLocal(y, p) match {
        case Some(beta) =>
          for (j <- 0 until n; r <- 0 until beta.length) yield {
            if (r == 0) VarpCoef(k, names(j), "c", 0, beta(0)(j))
            else VarpCoef(k, names(j), names((r - 1) % n), (r - 1) / n + 1,
              beta(r)(j))
          }
        case None => Seq.empty[VarpCoef]
      }
    }.toDF()
  }

  /**
   * Fit + h-step iterated forecast per key: ŷ_{T+1} from the last p
   * observations, then roll forward feeding forecasts back in (the
   * standard VAR point forecast). Future `ts` extrapolates the median
   * observed step, matching [[ModelOps.forecastArima]].
   */
  def varpForecast(df: DataFrame, p: Int, h: Int, valueCols: Seq[String],
      key: String = "key", ts: String = "ts_nanos"): DataFrame = {
    require(h >= 1, "h >= 1")
    val names = valueCols.toArray
    val n = names.length
    PerSeries.rows(df, key, ts, valueCols) { (k, tss, y) =>
      fitLocal(y, p) match {
        case Some(beta) =>
          val step = PerSeries.medianStep(tss)
          // ring of the last p observations, newest first after reverse
          var hist = y.takeRight(p).reverse.toVector // hist(0) = y_{t}, hist(1) = y_{t-1}, ...
          val out = collection.mutable.ArrayBuffer.empty[VarpForecast]
          var s = 1
          while (s <= h) {
            val next = predictNext(beta, hist, n, p)
            val fts = tss.last + step * s
            var j2 = 0
            while (j2 < n) {
              out += VarpForecast(k, s, fts, names(j2), next(j2)); j2 += 1
            }
            hist = next +: hist.dropRight(1)
            s += 1
          }
          out.toSeq
        case None => Seq.empty[VarpForecast]
      }
    }.toDF()
  }

  /** Lag-p Granger result: F ~ F(p, n_obs − 2p − 1) under the null that
    * x's lags add nothing over y's own lags. */
  case class GrangerLagP(key: String, n_obs: Long, df1: Long, df2: Long,
      f_stat: Double)

  /**
   * Lag-p Granger causality per key — the general form of the closed-form
   * lag-1 [[graft.ts.TimeSeriesOps.grangerF]] (spec-asserted to agree with
   * it at p=1): restricted OLS of y on [1, y_{t−1..t−p}] vs unrestricted
   * on [1, y-lags, x-lags], F = ((RSS_r − RSS_u)/p) / (RSS_u/df2).
   * Same kernel shape as [[varpFit]]: one groupByKey shuffle, streamed
   * Gram matrices (the restricted Gram is a stride of the unrestricted
   * one — the series is scanned ONCE), local pivoted solves. Degenerate
   * keys (singular either way, or df2 ≤ 0) emit no row.
   */
  def grangerLagP(df: DataFrame, p: Int, key: String = "key",
      ts: String = "ts_nanos", y: String = "y", x: String = "x"): DataFrame = {
    require(p >= 1, "p >= 1")
    PerSeries.rows(df, key, ts, Seq(y, x)) { (k, _, yx) =>
      val ys = yx.map(_(0))
      val xs = yx.map(_(1))
      val tTot = ys.length
      val mU = 1 + 2 * p
      val nObs = tTot - p
      if (nObs <= mU) Seq.empty[GrangerLagP]
      else {
        // one streamed pass builds the unrestricted Gram/moment; the
        // restricted system is the [intercept + y-lag] sub-block
        val g = Array.ofDim[Double](mU, mU)
        val b = Array.ofDim[Double](mU, 1)
        val xrow = new Array[Double](mU)
        var yy = 0.0
        var t = p
        while (t < tTot) {
          xrow(0) = 1.0
          var l = 1
          while (l <= p) {
            xrow(l) = ys(t - l); xrow(p + l) = xs(t - l); l += 1
          }
          var r = 0
          while (r < mU) {
            var c = r
            while (c < mU) { g(r)(c) += xrow(r) * xrow(c); c += 1 }
            b(r)(0) += xrow(r) * ys(t)
            r += 1
          }
          yy += ys(t) * ys(t)
          t += 1
        }
        var r = 1
        while (r < mU) {
          var c = 0
          while (c < r) { g(r)(c) = g(c)(r); c += 1 }
          r += 1
        }
        val mR = 1 + p
        val gR = Array.tabulate(mR, mR)((i, j) => g(i)(j))
        val bR = Array.tabulate(mR, 1)((i, _) => b(i)(0))
        val res = for {
          bu <- solve(g.map(_.clone), b.map(_.clone))
          br <- solve(gR, bR)
        } yield {
          def rss(beta: Array[Array[Double]], bt: Array[Array[Double]]): Double = {
            var s = yy
            var i = 0
            while (i < beta.length) { s -= beta(i)(0) * bt(i)(0); i += 1 }
            s
          }
          // y'y − β'X'y can cancel to a tiny negative on a near-perfect
          // fit; clamp at 0 and treat rssU = 0 as "no honest F" (the same
          // no-fabricated-solve contract as varFit's det <= 0 -> null)
          val rssU = math.max(rss(bu, b), 0.0)
          val rssR = math.max(rss(br, Array.tabulate(mR, 1)((i, _) => b(i)(0))), 0.0)
          val df2 = nObs - mU
          val f =
            if (rssU > 0.0) ((rssR - rssU) / p) / (rssU / df2) else Double.NaN
          GrangerLagP(k, nObs.toLong, p.toLong, df2.toLong, f)
        }
        res.filter(r => !r.f_stat.isNaN && !r.f_stat.isInfinite).toSeq
      }
    }.toDF()
  }

  /**
   * Equation-wise OLS for VAR(p) from a T×n value matrix: returns the
   * (1+np)×n coefficient matrix B (row 0 = intercepts; row 1+(l−1)n+i =
   * coefficient of series i at lag l), or None when the system is
   * under-determined or the Gram matrix is singular. Streams the series
   * once — never materializes the T×m design matrix.
   */
  private[graft] def fitLocal(y: Array[Array[Double]], p: Int)
      : Option[Array[Array[Double]]] = {
    val tTot = y.length
    val n = if (tTot > 0) y(0).length else 0
    val m = 1 + n * p
    if (n == 0 || tTot - p < m) return None
    val g = Array.ofDim[Double](m, m)
    val b = Array.ofDim[Double](m, n)
    val x = new Array[Double](m)
    var t = p
    while (t < tTot) {
      x(0) = 1.0
      var idx = 1
      var l = 1
      while (l <= p) {
        val yl = y(t - l)
        var i = 0
        while (i < n) { x(idx) = yl(i); idx += 1; i += 1 }
        l += 1
      }
      var r = 0
      while (r < m) {
        val xr = x(r)
        var c2 = r
        while (c2 < m) { g(r)(c2) += xr * x(c2); c2 += 1 }
        val yt = y(t)
        var j = 0
        while (j < n) { b(r)(j) += xr * yt(j); j += 1 }
        r += 1
      }
      t += 1
    }
    var r = 1
    while (r < m) {
      var c2 = 0
      while (c2 < r) { g(r)(c2) = g(c2)(r); c2 += 1 }
      r += 1
    }
    solve(g, b)
  }

  /** Solve G·X = B in place (G m×m symmetric positive semi-definite from a
    * Gram construction, B m×n) by Gaussian elimination with partial
    * pivoting; None when a pivot falls below a relative tolerance
    * (singular/collinear system). Deterministic: fixed elimination order. */
  private[graft] def solve(g: Array[Array[Double]], b: Array[Array[Double]])
      : Option[Array[Array[Double]]] = {
    val m = g.length
    val n = if (m > 0) b(0).length else 0
    var maxAbs = 0.0
    var i = 0
    while (i < m) {
      var j = 0
      while (j < m) { val a = math.abs(g(i)(j)); if (a > maxAbs) maxAbs = a; j += 1 }
      i += 1
    }
    val eps = 1e-12 * math.max(maxAbs, 1.0)
    var col = 0
    while (col < m) {
      var piv = col
      var best = math.abs(g(col)(col))
      var r = col + 1
      while (r < m) {
        val a = math.abs(g(r)(col)); if (a > best) { best = a; piv = r }; r += 1
      }
      if (best <= eps) return None
      if (piv != col) {
        val tg = g(piv); g(piv) = g(col); g(col) = tg
        val tb = b(piv); b(piv) = b(col); b(col) = tb
      }
      val d = g(col)(col)
      r = 0
      while (r < m) {
        if (r != col) {
          val f = g(r)(col) / d
          if (f != 0.0) {
            var c2 = col
            while (c2 < m) { g(r)(c2) -= f * g(col)(c2); c2 += 1 }
            var j = 0
            while (j < n) { b(r)(j) -= f * b(col)(j); j += 1 }
          }
        }
        r += 1
      }
      col += 1
    }
    val out = Array.ofDim[Double](m, n)
    i = 0
    while (i < m) {
      var j = 0
      while (j < n) { out(i)(j) = b(i)(j) / g(i)(i); j += 1 }
      i += 1
    }
    Some(out)
  }

  /** Per-(key, p) information criteria for VAR order selection. */
  case class VarpOrderIC(key: String, p: Int, n_obs: Long,
      log_det_sigma: Double, aic: Double, bic: Double, hqic: Double)

  /**
   * Information-criterion order selection for VAR(p), p = 1..pmax — the
   * statsmodels `VAR.select_order` surface. All candidate orders are
   * scored on the SAME effective sample (t = pmax..T−1, the standard
   * comparability requirement), and all of them come from ONE streamed
   * pass per key: the Gram/cross-moment matrices for pmax nest every
   * smaller order as their leading sub-blocks (the design row is
   * [1, y_{t−1}, …, y_{t−pmax}], so order p is columns 0..n·p — the same
   * sub-block trick as [[grangerLagP]]'s restricted system). Per order:
   *   Σ̂(p) = (Y'Y − B̂'X'Y) / n_obs,
   *   AIC  = ln det Σ̂ + 2k/n_obs,            k = n(np + 1) fitted params
   *   BIC  = ln det Σ̂ + k·ln(n_obs)/n_obs,
   *   HQIC = ln det Σ̂ + 2k·ln(ln n_obs)/n_obs     (Lütkepohl ch. 4,
   * intercept included in k — the statsmodels convention). Orders whose
   * sub-system is singular, or whose Σ̂ determinant is ≤ 0 (perfect fit /
   * numerically degenerate), emit no row — never a fabricated score.
   */
  def varpOrderSelect(df: DataFrame, pmax: Int, valueCols: Seq[String],
      key: String = "key", ts: String = "ts_nanos"): DataFrame = {
    require(pmax >= 1, "pmax >= 1")
    require(valueCols.nonEmpty, "valueCols must be non-empty")
    PerSeries.rows(df, key, ts, valueCols) { (k, _, y) =>
      icsLocal(y, pmax).map { c => c.copy(key = k) }
    }.toDF()
  }

  /**
   * Argmin of [[varpOrderSelect]] per key and criterion — ties break to
   * the SMALLER order (min over (score, p) structs, deterministic).
   */
  def varpBestOrder(df: DataFrame, pmax: Int, valueCols: Seq[String],
      key: String = "key", ts: String = "ts_nanos"): DataFrame =
    varpOrderSelect(df, pmax, valueCols, key, ts)
      .groupBy(col("key"))
      .agg(min(struct(col("aic"), col("p"))).getField("p").as("best_aic"),
        min(struct(col("bic"), col("p"))).getField("p").as("best_bic"),
        min(struct(col("hqic"), col("p"))).getField("p").as("best_hqic"))

  /** One streamed pass: Gram/moments at pmax, then every order's IC from
    * leading sub-blocks. Key is filled by the caller. */
  private[graft] def icsLocal(y: Array[Array[Double]], pmax: Int)
      : Seq[VarpOrderIC] = {
    val tTot = y.length
    val n = if (tTot > 0) y(0).length else 0
    val m = 1 + n * pmax
    val nobs = tTot - pmax
    if (n == 0 || nobs < 2) return Seq.empty
    val g = Array.ofDim[Double](m, m)
    val b = Array.ofDim[Double](m, n)
    val yy = Array.ofDim[Double](n, n)
    val x = new Array[Double](m)
    var t = pmax
    while (t < tTot) {
      x(0) = 1.0
      var idx = 1
      var l = 1
      while (l <= pmax) {
        val yl = y(t - l)
        var i = 0
        while (i < n) { x(idx) = yl(i); idx += 1; i += 1 }
        l += 1
      }
      val yt = y(t)
      var r = 0
      while (r < m) {
        val xr = x(r)
        var c2 = r
        while (c2 < m) { g(r)(c2) += xr * x(c2); c2 += 1 }
        var j = 0
        while (j < n) { b(r)(j) += xr * yt(j); j += 1 }
        r += 1
      }
      var a = 0
      while (a < n) {
        var j = a
        while (j < n) { yy(a)(j) += yt(a) * yt(j); j += 1 }
        a += 1
      }
      t += 1
    }
    var r = 1
    while (r < m) {
      var c2 = 0
      while (c2 < r) { g(r)(c2) = g(c2)(r); c2 += 1 }
      r += 1
    }
    var a = 1
    while (a < n) {
      var j = 0
      while (j < a) { yy(a)(j) = yy(j)(a); j += 1 }
      a += 1
    }
    (1 to pmax).flatMap { p =>
      val mp = 1 + n * p
      if (nobs < mp) None
      else {
        val gp = Array.tabulate(mp, mp)((i, j) => g(i)(j))
        val cp = Array.tabulate(mp, n)((i, j) => b(i)(j))
        solve(gp, cp.map(_.clone)) match {
          case Some(beta) =>
            // Σ̂ = (Y'Y − β'X'Y)/nobs; no element-wise clamp here — the
            // det <= 0 guard below is what rejects fits where negative
            // cancellation degenerates Σ̂ (same honesty contract as
            // grangerLagP's RSS clamp, enforced at the determinant)
            val sig = Array.tabulate(n, n) { (aa, bb) =>
              var s = yy(aa)(bb)
              var i = 0
              while (i < mp) { s -= beta(i)(aa) * cp(i)(bb); i += 1 }
              s / nobs
            }
            val dt = detLocal(sig)
            if (dt <= 0.0 || dt.isNaN) None
            else {
              val ld = math.log(dt)
              val kPar = n.toDouble * (n * p + 1)
              val no = nobs.toDouble
              Some(VarpOrderIC("", p, nobs.toLong, ld,
                ld + 2.0 * kPar / no,
                ld + kPar * math.log(no) / no,
                ld + 2.0 * kPar * math.log(math.log(no)) / no))
            }
          case None => None
        }
      }
    }
  }

  /** Per-(key, step, impulse, response) impulse-response point: `irf` is
    * the plain MA(∞) coefficient (unit shock in `impulse`'s equation),
    * `irf_orth` the orthogonalized (Cholesky-identified) response. */
  case class VarpIrf(key: String, step: Int, impulse: String,
      response: String, irf: Double, irf_orth: Double)

  /**
   * Impulse responses of a per-key VAR(p) fit, horizons 0..h — the
   * statsmodels `VARResults.irf` surface. The MA(∞) coefficients follow
   * the standard recursion Φ_0 = I, Φ_s = Σ_{j≤min(s,p)} Φ_{s−j}·A_j
   * (Lütkepohl ch. 2); the orthogonalized responses Θ_s = Φ_s·P use the
   * lower Cholesky factor of the innovation covariance Σ̂ (identification
   * by variable order, the statsmodels default). Same kernel shape as
   * [[varpFit]]: one groupByKey shuffle, a streamed Gram + residual-moment
   * pass, local solves; keys with a singular system or a non-PD Σ̂ emit no
   * rows.
   */
  def varpIrf(df: DataFrame, p: Int, h: Int, valueCols: Seq[String],
      key: String = "key", ts: String = "ts_nanos"): DataFrame = {
    require(h >= 0, "h >= 0")
    val names = valueCols.toArray
    val n = names.length
    PerSeries.rows(df, key, ts, valueCols) { (k, _, y) =>
      fitWithSigma(y, p) match {
        case Some((beta, sigma, _)) =>
          cholLower(sigma) match {
            case Some(pl) =>
              val phis = maCoefficients(beta, n, p, h)
              for (s <- 0 to h; i <- 0 until n; j <- 0 until n) yield {
                // Θ_s = Φ_s · P
                var th = 0.0
                var q = 0
                while (q < n) { th += phis(s)(i)(q) * pl(q)(j); q += 1 }
                VarpIrf(k, s, names(j), names(i), phis(s)(i)(j), th)
              }
            case None => Seq.empty[VarpIrf]
          }
        case None => Seq.empty[VarpIrf]
      }
    }.toDF()
  }

  /** Per-(key, variable, shock) forecast-error-variance share at horizon h. */
  case class VarpFevd(key: String, variable: String, shock: String,
      h: Int, fevd: Double)

  /**
   * Forecast error variance decomposition at horizon `h` (statsmodels
   * `VARResults.fevd`): the share of variable i's h-step forecast error
   * variance attributable to orthogonalized shocks in variable j,
   *   ω_ij(h) = Σ_{s<h} Θ_s(i,j)² / Σ_q Σ_{s<h} Θ_s(i,q)².
   * Shares sum to 1 over shocks for every (key, variable) — a THEOREM of
   * the construction, asserted by the mr17 certification.
   */
  def varpFevd(df: DataFrame, p: Int, h: Int, valueCols: Seq[String],
      key: String = "key", ts: String = "ts_nanos"): DataFrame = {
    require(h >= 1, "h >= 1")
    val names = valueCols.toArray
    val n = names.length
    PerSeries.rows(df, key, ts, valueCols) { (k, _, y) =>
      fitWithSigma(y, p) match {
        case Some((beta, sigma, _)) =>
          cholLower(sigma) match {
            case Some(pl) =>
              val phis = maCoefficients(beta, n, p, h - 1)
              val acc = Array.ofDim[Double](n, n)
              for (s <- 0 until h; i <- 0 until n; j <- 0 until n) {
                var th = 0.0
                var q = 0
                while (q < n) { th += phis(s)(i)(q) * pl(q)(j); q += 1 }
                acc(i)(j) += th * th
              }
              for (i <- 0 until n; j <- 0 until n) yield {
                val tot = acc(i).sum
                VarpFevd(k, names(i), names(j), h,
                  if (tot > 0) acc(i)(j) / tot else Double.NaN)
              }
            case None => Seq.empty[VarpFevd]
          }
        case None => Seq.empty[VarpFevd]
      }
    }.toDF()
  }

  /** Per-key h-step forecast with standard errors and a symmetric
    * normal-theory interval. */
  case class VarpForecastInterval(key: String, step: Int, ts: Long,
      eq: String, value: Double, se: Double, lo: Double, hi: Double)

  /**
   * [[varpForecast]] plus prediction intervals — the statsmodels
   * `forecast_interval` surface. The h-step forecast-error covariance is
   * MSE(h) = Σ_{s<h} Φ_s·Σ̂·Φ_s' (Lütkepohl ch. 3; coefficient-estimation
   * uncertainty ignored, the standard large-T approximation), so the
   * band half-width is z·√MSE_ii(h), z the standard-normal quantile for
   * `level`. MSE recursion reuses the SAME fitted pass (one streamed
   * Gram + residual moment per key); se is nondecreasing in h by
   * construction — certified in mr17.
   */
  def varpForecastIntervals(df: DataFrame, p: Int, h: Int,
      valueCols: Seq[String], level: Double = 0.95, key: String = "key",
      ts: String = "ts_nanos"): DataFrame = {
    require(h >= 1, "h >= 1")
    require(level > 0 && level < 1, "0 < level < 1")
    val z = normalQuantile(0.5 + level / 2)
    val names = valueCols.toArray
    val n = names.length
    PerSeries.rows(df, key, ts, valueCols) { (k, tss, y) =>
      fitWithSigma(y, p) match {
        case Some((beta, sigma, _)) =>
          val step = PerSeries.medianStep(tss)
          val phis = maCoefficients(beta, n, p, h - 1)
          // iterated point forecast — the varpForecast recursion
          var hist = y.takeRight(p).reverse.toVector
          val mse = Array.ofDim[Double](n) // running diagonal of MSE(h)
          val out = collection.mutable.ArrayBuffer.empty[VarpForecastInterval]
          var s = 1
          while (s <= h) {
            val next = predictNext(beta, hist, n, p)
            // MSE(s) diagonal += (Φ_{s−1} Σ Φ_{s−1}')_ii
            val ph = phis(s - 1)
            var i = 0
            while (i < n) {
              var acc = 0.0
              var a = 0
              while (a < n) {
                var b2 = 0
                while (b2 < n) { acc += ph(i)(a) * sigma(a)(b2) * ph(i)(b2); b2 += 1 }
                a += 1
              }
              mse(i) += acc
              i += 1
            }
            val fts = tss.last + step * s
            var j2 = 0
            while (j2 < n) {
              val se = math.sqrt(math.max(mse(j2), 0.0))
              out += VarpForecastInterval(k, s, fts, names(j2), next(j2), se,
                next(j2) - z * se, next(j2) + z * se)
              j2 += 1
            }
            hist = next +: hist.dropRight(1)
            s += 1
          }
          out.toSeq
        case None => Seq.empty[VarpForecastInterval]
      }
    }.toDF()
  }

  /** One-step VAR(p) prediction c + Σ_l A_l·y_{t+1−l} from the last p
    * observations, newest first (`hist(0)` = y_t). */
  private def predictNext(beta: Array[Array[Double]], hist: Vector[Array[Double]],
      n: Int, p: Int): Array[Double] = {
    val next = new Array[Double](n)
    var j = 0
    while (j < n) {
      var v = beta(0)(j)
      var l = 1
      while (l <= p) {
        var i = 0
        while (i < n) { v += beta(1 + (l - 1) * n + i)(j) * hist(l - 1)(i); i += 1 }
        l += 1
      }
      next(j) = v
      j += 1
    }
    next
  }

  /** Standard-normal quantile (Acklam's rational approximation, |ε| <
    * 1.15e-9 — far below any interval's statistical resolution;
    * deterministic closed form, no special-function library). */
  private[graft] def normalQuantile(q: Double): Double = {
    require(q > 0 && q < 1, "0 < q < 1")
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01, -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
    val d = Array(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    val pl = 0.02425
    if (q < pl) {
      val u = math.sqrt(-2.0 * math.log(q))
      (((((c(0) * u + c(1)) * u + c(2)) * u + c(3)) * u + c(4)) * u + c(5)) /
        ((((d(0) * u + d(1)) * u + d(2)) * u + d(3)) * u + 1.0)
    } else if (q <= 1 - pl) {
      val u = q - 0.5
      val r = u * u
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * u /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1.0)
    } else {
      val u = math.sqrt(-2.0 * math.log(1 - q))
      -(((((c(0) * u + c(1)) * u + c(2)) * u + c(3)) * u + c(4)) * u + c(5)) /
        ((((d(0) * u + d(1)) * u + d(2)) * u + d(3)) * u + 1.0)
    }
  }

  /** MA(∞) matrices Φ_0..Φ_h from the stacked OLS coefficients: A_l(j,i) =
    * beta(1+(l−1)n+i)(j) (row = response equation, col = impulse). */
  private[graft] def maCoefficients(beta: Array[Array[Double]], n: Int,
      p: Int, h: Int): Array[Array[Array[Double]]] = {
    def a(l: Int): Array[Array[Double]] =
      Array.tabulate(n, n)((j, i) => beta(1 + (l - 1) * n + i)(j))
    val as = (1 to p).map(a).toArray
    val phis = new Array[Array[Array[Double]]](h + 1)
    phis(0) = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var s = 1
    while (s <= h) {
      val out = Array.ofDim[Double](n, n)
      var j = 1
      while (j <= math.min(s, p)) {
        val ph = phis(s - j); val aj = as(j - 1)
        var r = 0
        while (r < n) {
          var c = 0
          while (c < n) {
            var q = 0
            var v = 0.0
            while (q < n) { v += ph(r)(q) * aj(q)(c); q += 1 }
            out(r)(c) += v
            c += 1
          }
          r += 1
        }
        j += 1
      }
      phis(s) = out
      s += 1
    }
    phis
  }

  /** OLS fit + innovation covariance from one streamed pass over the
    * sample t = p..T−1 (the [[icsLocal]] moments at a single order). */
  private[graft] def fitWithSigma(y: Array[Array[Double]], p: Int)
      : Option[(Array[Array[Double]], Array[Array[Double]], Long)] = {
    val tTot = y.length
    val n = if (tTot > 0) y(0).length else 0
    val m = 1 + n * p
    val nobs = tTot - p
    if (n == 0 || nobs < m) return None
    val g = Array.ofDim[Double](m, m)
    val b = Array.ofDim[Double](m, n)
    val yy = Array.ofDim[Double](n, n)
    val x = new Array[Double](m)
    var t = p
    while (t < tTot) {
      x(0) = 1.0
      var idx = 1
      var l = 1
      while (l <= p) {
        val yl = y(t - l)
        var i = 0
        while (i < n) { x(idx) = yl(i); idx += 1; i += 1 }
        l += 1
      }
      val yt = y(t)
      var r = 0
      while (r < m) {
        val xr = x(r)
        var c2 = r
        while (c2 < m) { g(r)(c2) += xr * x(c2); c2 += 1 }
        var j = 0
        while (j < n) { b(r)(j) += xr * yt(j); j += 1 }
        r += 1
      }
      var a = 0
      while (a < n) {
        var j = a
        while (j < n) { yy(a)(j) += yt(a) * yt(j); j += 1 }
        a += 1
      }
      t += 1
    }
    var r = 1
    while (r < m) {
      var c2 = 0
      while (c2 < r) { g(r)(c2) = g(c2)(r); c2 += 1 }
      r += 1
    }
    var a = 1
    while (a < n) {
      var j = 0
      while (j < a) { yy(a)(j) = yy(j)(a); j += 1 }
      a += 1
    }
    val c0 = b.map(_.clone)
    solve(g, b).map { beta =>
      val sigma = Array.tabulate(n, n) { (aa, bb) =>
        var s = yy(aa)(bb)
        var i = 0
        while (i < m) { s -= beta(i)(aa) * c0(i)(bb); i += 1 }
        s / nobs
      }
      (beta, sigma, nobs.toLong)
    }
  }

  /** Lower Cholesky factor of a symmetric PD matrix; None when a pivot is
    * non-positive (non-PD — degenerate innovations). */
  private[graft] def cholLower(s: Array[Array[Double]])
      : Option[Array[Array[Double]]] = {
    val n = s.length
    val l = Array.ofDim[Double](n, n)
    var i = 0
    while (i < n) {
      var j = 0
      while (j <= i) {
        var sum = s(i)(j)
        var k = 0
        while (k < j) { sum -= l(i)(k) * l(j)(k); k += 1 }
        if (i == j) {
          if (sum <= 0.0) return None
          l(i)(j) = math.sqrt(sum)
        } else l(i)(j) = sum / l(j)(j)
        j += 1
      }
      i += 1
    }
    Some(l)
  }

  /** Determinant of a small dense matrix by partially-pivoted elimination
    * (mutates a copy; deterministic order). */
  private[graft] def detLocal(a0: Array[Array[Double]]): Double = {
    val a = a0.map(_.clone)
    val n = a.length
    var det = 1.0
    var col = 0
    while (col < n) {
      var piv = col
      var best = math.abs(a(col)(col))
      var r = col + 1
      while (r < n) {
        val v = math.abs(a(r)(col)); if (v > best) { best = v; piv = r }; r += 1
      }
      if (best == 0.0) return 0.0
      if (piv != col) { val t = a(piv); a(piv) = a(col); a(col) = t; det = -det }
      det *= a(col)(col)
      r = col + 1
      while (r < n) {
        val f = a(r)(col) / a(col)(col)
        if (f != 0.0) {
          var c2 = col
          while (c2 < n) { a(r)(c2) -= f * a(col)(c2); c2 += 1 }
        }
        r += 1
      }
      col += 1
    }
    det
  }
}
