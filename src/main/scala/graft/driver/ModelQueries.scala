package graft
package driver

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.models.PerSeries
import graft.ts.{TimeSeriesOps => TS}

import Shared.{obs, pairDigest, dailyWithMarket}

/** Model and statistical-test driver queries ([[graft.models]],
  * [[graft.stats]]): per-series fits, forecasts and tests; the VAR(p)
  * family with its generated OLS oracles; the quality-classifier logit
  * (qc*); the frozen-digest twins of the optimizer fits; and the seeded
  * recovery certifications (mr*). The optimizer fits without an oracle
  * (m01, m02, ...) are checked by row count only; their digest twins
  * carry the hash check. */
object ModelQueries {

  /** Digest twin of an arbitrary rows-only result (the dd15-dd17 contract
    * extended to the optimizer-fit surfaces): every double/float column
    * rendered "%.6f", everything else via cast(string), nulls as the
    * literal "null"; the whole frame reduced to one
    * (md5-of-sorted-lines, n_pairs) row checked against an sf0.01-frozen
    * constant oracle. Safe because each fit is per-key deterministic
    * arithmetic ((user_id, ts_us) has no duplicates in the test tables, so
    * the per-key sort is total) — one drifted coefficient flips the md5. */
  private def rowDigest(df: DataFrame): DataFrame = {
    // r16 (ADVICE r15): the field separator is U+0001 (cannot appear in a
    // cast-to-string numeric/boolean and never in the key columns these
    // digests cover) and NULL renders as a U+0000-prefixed sentinel, so a
    // genuine NULL, the literal string "null", and separator-bearing
    // values are all unambiguous. %.6f doubles stay -- the same 6-decimal
    // contract as the value oracles (sub-5e-7 drift is the recovery
    // certs' job). Changing this line format re-froze m43-m53/qc03 per
    // the digest-twin contract (README): all mr recovery certs green.
    val parts = df.schema.fields.toIndexedSeq.map { f =>
      val c = col(f.name)
      val s = f.dataType match {
        case org.apache.spark.sql.types.DoubleType |
             org.apache.spark.sql.types.FloatType => format_string("%.6f", c)
        case _ => c.cast("string")
      }
      when(c.isNull, lit("\u0000null")).otherwise(s)
    }
    pairDigest(df, concat_ws("\u0001", parts: _*))
  }

  /** (user_id, day_us, v, cnt, mkt) — the trivariate frame behind m32/m33:
    * per-user daily mean + event count, joined with the market mean (same
    * join shape as [[dailyWithMarket]], one extra agg column). */
  private def dailyTriple(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("user_id"), unix_micros(date_trunc("DAY",
        timestamp_micros(col("ts_us")))).as("day_us"))
      .agg(avg("value").as("v"), count(lit(1)).cast("double").as("cnt"))
    val mkt = daily.groupBy(col("day_us")).agg(avg(col("v")).as("mkt"))
    daily.join(mkt, Seq("day_us"))
  }

  /**
   * Emit DuckDB CTEs solving, per user, the exact k-regressor OLS of the
   * three targets y1..y3 on x1..xk (+ intercept) over design CTE `src`
   * (columns: user_id, y1..y3, x1..xk) — the generated generalization of
   * [[varpSolveCtes]]'s handwritten k=6 chain. Produces CTEs
   * `{pfx}g1..{pfx}g{k}` (Gram-Schmidt basis), `{pfx}a` (aggregates) and
   * `{pfx}c` (one row per user with coefficients b{i}_{j}, i=0..k
   * intercept-first, j=1..3, plus nobs). Algebra: centered Gram-Schmidt
   * basis u1..uk, gamma_t = sum(u_t y)/sum(u_t^2), back-substitution
   * through the unit-triangular change of basis, intercept from means.
   */
  private def olsCtes(pfx: String, src: String, k: Int, nT: Int = 3): String = {
    require(k >= 2, "olsCtes needs >= 2 regressors (k=1 is plain regr_*)")
    val sb = new StringBuilder
    val ycols = (1 to nT).map(j => s"y$j").mkString(", ")
    val cdefs = (2 to k).map(i => s"x$i - avg(x$i) OVER w AS c$i").mkString(",\n             ")
    val mdefs = (1 to k).map(i => s"avg(x$i) OVER w AS m$i").mkString(", ")
    sb ++= s"""${pfx}g1 AS (
           SELECT user_id, $ycols, x1 - avg(x1) OVER w AS u1,
             $cdefs,
             $mdefs
           FROM $src WINDOW w AS (PARTITION BY user_id)),
         """
    for (t <- 2 to k) {
      val projs = (1 until t).map(s =>
        s"- sum(u$s*c$t) OVER w / sum(u$s*u$s) OVER w * u$s").mkString("\n                ")
      sb ++= s"""${pfx}g$t AS (SELECT *,
             c$t $projs AS u$t
           FROM ${pfx}g${t - 1} WINDOW w AS (PARTITION BY user_id)),
         """
    }
    val ms = (1 to k).map(i => s"any_value(m$i) AS m$i").mkString(", ")
    val ss = (1 to k).map(t => s"sum(u$t*u$t) AS s$t").mkString(", ")
    val rs = (for (s <- 1 to k; t <- s + 1 to k)
      yield s"sum(u$s*c$t) AS r${s}_$t").mkString(",\n             ")
    val gs = (for (t <- 1 to k; j <- 1 to nT)
      yield s"sum(u$t*y$j) AS g${t}_$j").mkString(",\n             ")
    sb ++= s"""${pfx}a AS (
           SELECT user_id, count(*) AS nobs,
             ${(1 to nT).map(j => s"avg(y$j) AS my$j").mkString(", ")},
             $ms,
             $ss,
             $rs,
             $gs
           FROM ${pfx}g$k GROUP BY user_id HAVING count(*) >= ${k + 1}),
         """
    // back-substitution: t-th layer adds b{t}_{j} for j=1..3
    var prev = s"${pfx}a"
    for (t <- k to 1 by -1) {
      val defs = (1 to nT).map { j =>
        val tail = (t + 1 to k).map(u => s"- r${t}_$u/s$t*b${u}_$j").mkString(" ")
        s"g${t}_$j/s$t $tail AS b${t}_$j"
      }.mkString(",\n             ")
      sb ++= s"""${pfx}t$t AS (SELECT *,
             $defs
           FROM $prev),
         """
      prev = s"${pfx}t$t"
    }
    val b0s = (1 to nT).map { j =>
      val terms = (1 to k).map(i => s"- b${i}_$j*m$i").mkString(" ")
      s"my$j $terms AS b0_$j"
    }.mkString(",\n             ")
    sb ++= s"""${pfx}c AS (SELECT *,
             $b0s
           FROM $prev)"""
    sb.toString
  }

  /** The m35 oracle: pmax=3 lag-aligned design (one shared sample for all
    * orders, exactly icsLocal's convention), one generated OLS chain per
    * order p=1..3, then Σ̂ = (Y′Y − B′X′Y)/nobs from raw moments, the
    * closed-form 3×3 determinant, and the Lütkepohl AIC/BIC/HQIC. */
  private def varpOrderOracle: String = {
    val lagCols = (for (l <- 1 to 3; (c, i) <- Seq("v", "cnt", "mkt").zipWithIndex)
      yield s"lag($c, $l) OVER w AS x${(l - 1) * 3 + i + 1}").mkString(",\n             ")
    val sxy = (for (i <- 1 to 9; j <- 1 to 3)
      yield s"sum(x$i*y$j) AS sxy${i}_$j").mkString(",\n             ")
    def ic(p: Int): String = {
      val k = 3 * p
      val sig = (for (a <- 1 to 3; b <- 1 to 3) yield {
        val yy = if (a <= b) s"yy$a$b" else s"yy$b$a"
        val terms = (1 to k).map(i => s"- b${i}_$a*sxy${i}_$b").mkString(" ")
        s"($yy - b0_$a*sy$b $terms)/n AS s$a$b"
      }).mkString(",\n             ")
      val kPar = 3 * (k + 1)
      s"""ic${p}a AS (
           SELECT c.user_id, s.n,
             $sig
           FROM p${p}c c JOIN sums s ON c.user_id = s.user_id),
         ic${p}b AS (
           SELECT user_id, n,
             s11*(s22*s33 - s23*s32) - s12*(s21*s33 - s23*s31)
               + s13*(s21*s32 - s22*s31) AS det
           FROM ic${p}a),
         ic$p AS (
           SELECT user_id, $p AS p, n AS n_obs, ln(det) AS ld,
             ln(det) + 2.0*$kPar/n AS aic,
             ln(det) + $kPar*ln(n)/n AS bic,
             ln(det) + 2.0*$kPar*ln(ln(n))/n AS hqic
           FROM ic${p}b WHERE det > 0)"""
    }
    s"""WITH daily AS (
           SELECT user_id, epoch_us(date_trunc('day', ts)) AS day_us,
             avg(value) AS v, count(*)::DOUBLE AS cnt
           FROM events GROUP BY 1, 2),
         market AS (SELECT day_us, avg(v) AS mkt FROM daily GROUP BY 1),
         triple AS (
           SELECT d.user_id, d.day_us, d.v, d.cnt, market.mkt
           FROM daily d JOIN market USING (day_us)),
         lagd AS (
           SELECT user_id, v AS y1, cnt AS y2, mkt AS y3,
             $lagCols
           FROM triple WINDOW w AS (PARTITION BY user_id ORDER BY day_us)),
         d0 AS (SELECT * FROM lagd
                WHERE x7 IS NOT NULL AND x8 IS NOT NULL AND x9 IS NOT NULL),
         sums AS (
           SELECT user_id, count(*) AS n,
             sum(y1*y1) AS yy11, sum(y1*y2) AS yy12, sum(y1*y3) AS yy13,
             sum(y2*y2) AS yy22, sum(y2*y3) AS yy23, sum(y3*y3) AS yy33,
             sum(y1) AS sy1, sum(y2) AS sy2, sum(y3) AS sy3,
             $sxy
           FROM d0 GROUP BY user_id),
         ${olsCtes("p1", "d0", 3)},
         ${olsCtes("p2", "d0", 6)},
         ${olsCtes("p3", "d0", 9)},
         ${ic(1)},
         ${ic(2)},
         ${ic(3)},
         uni AS (SELECT * FROM ic1 UNION ALL SELECT * FROM ic2
                 UNION ALL SELECT * FROM ic3)
         SELECT user_id, p::BIGINT AS p, n_obs,
           round(ld, 5) + 0.0 AS log_det_sigma,
           round(aic, 5) + 0.0 AS aic, round(bic, 5) + 0.0 AS bic,
           round(hqic, 5) + 0.0 AS hqic
         FROM uni"""
  }

  /**
   * CTEs extending [[varpSolveCtes]] (t0 coefficients over the p=2 design
   * `d0`) with the innovation covariance Σ̂ = (Y′Y − B′X′Y)/nobs from raw
   * moments, its closed-form lower Cholesky factor (PD-guarded like
   * cholLower), the MA(∞) matrices Φ_0..Φ_h of the fitted VAR(2)
   * (Φ_s = Φ_{s−1}A_1 + Φ_{s−2}A_2 unrolled), and Θ_s = Φ_s·P — the whole
   * scalar-algebra core behind varpIrf/varpFevd/varpForecastIntervals.
   * Final CTE `th` carries ph{s}_{r}{c}, th{s}_{r}{c}, l{r}{c}, s{r}{c}
   * plus everything from t0.
   */
  private def varpThetaCtes(h: Int): String = {
    val sxy = (for (i <- 1 to 6; j <- 1 to 3)
      yield s"sum(x$i*y$j) AS sxy${i}_$j").mkString(",\n             ")
    val sig = (for (a <- 1 to 3; b <- 1 to 3) yield {
      val yy = if (a <= b) s"yy$a$b" else s"yy$b$a"
      val terms = (1 to 6).map(i => s"- b${i}_$a*sxy${i}_$b").mkString(" ")
      s"($yy - b0_$a*sy$b $terms)/n AS s$a$b"
    }).mkString(",\n             ")
    // A_l[row j][col i] = b{(l-1)*3+i}_j (coefficient of series i at lag l
    // in equation j) — maCoefficients' orientation
    def a(l: Int, j: Int, i: Int) = s"b${(l - 1) * 3 + i}_$j"
    val phis = new StringBuilder
    var prevCte = "chol"
    for (s <- 1 to h) {
      val defs = (for (r <- 1 to 3; c <- 1 to 3) yield {
        def phiRef(u: Int, rr: Int, qq: Int): String =
          if (u == 0) (if (rr == qq) "1.0" else "0.0") else s"ph${u}_$rr$qq"
        val terms = (for (j <- 1 to math.min(s, 2); q <- 1 to 3)
          yield s"${phiRef(s - j, r, q)}*${a(j, q, c)}").mkString(" + ")
        s"$terms AS ph${s}_$r$c"
      }).mkString(",\n             ")
      phis ++= s"""ph$s AS (SELECT *,
             $defs
           FROM $prevCte),
         """
      prevCte = s"ph$s"
    }
    val thetas = (for (s <- 0 to h; r <- 1 to 3) yield {
      def ph(q: Int) = if (s == 0) (if (r == q) "1.0" else "0.0") else s"ph${s}_$r$q"
      Seq(
        s"${ph(1)}*l11 + ${ph(2)}*l21 + ${ph(3)}*l31 AS th${s}_${r}1",
        s"${ph(2)}*l22 + ${ph(3)}*l32 AS th${s}_${r}2",
        s"${ph(3)}*l33 AS th${s}_${r}3").mkString(",\n             ")
    }).mkString(",\n             ")
    s"""sums2 AS (
           SELECT user_id, count(*) AS n,
             sum(y1*y1) AS yy11, sum(y1*y2) AS yy12, sum(y1*y3) AS yy13,
             sum(y2*y2) AS yy22, sum(y2*y3) AS yy23, sum(y3*y3) AS yy33,
             sum(y1) AS sy1, sum(y2) AS sy2, sum(y3) AS sy3,
             $sxy
           FROM d0 GROUP BY user_id),
         sg AS (
           SELECT t0.*, s2.* EXCLUDE (user_id)
           FROM t0 JOIN sums2 s2 ON t0.user_id = s2.user_id),
         sgm AS (SELECT *,
             $sig
           FROM sg),
         chol0 AS (SELECT *, sqrt(s11) AS l11, s21/sqrt(s11) AS l21,
             s31/sqrt(s11) AS l31 FROM sgm WHERE s11 > 0),
         chol1 AS (SELECT *, sqrt(s22 - l21*l21) AS l22
           FROM chol0 WHERE s22 - l21*l21 > 0),
         chol2 AS (SELECT *, (s32 - l31*l21)/l22 AS l32 FROM chol1),
         chol AS (SELECT *, sqrt(s33 - l31*l31 - l32*l32) AS l33
           FROM chol2 WHERE s33 - l31*l31 - l32*l32 > 0),
         ${phis.toString}th AS (SELECT *,
             $thetas
           FROM $prevCte)"""
  }

  private val varNames = Seq("v", "cnt", "mkt")

  /** erfc(z) for z >= 0 from SQL primitives: Taylor series below z=2,
    * 60-level Lentz continued fraction above — agrees with libm erfc to
    * ~1e-12 relative (validated against python math.erfc on a grid).
    * `z` must be a bare column/alias name. */
  private def erfcSql(z: String): String =
    s"""CASE WHEN $z < 2.0 THEN
             1.0 - 2.0/sqrt(pi()) * list_sum([
               (CASE WHEN n % 2 = 0 THEN 1.0 ELSE -1.0 END)
                 * exp((2*n+1)*ln($z) - lgamma(n+1.0)) / (2*n+1)
               FOR n IN range(0, 40)])
           ELSE
             exp(-$z*$z)/sqrt(pi()) / ($z + list_reduce(
               list_prepend(0.0, [kk::DOUBLE FOR kk IN range(60, 0, -1)]),
               (acc, kk) -> (kk/2.0)/($z + acc)))
           END"""

  /** m42: lag-2 ADF replayed exactly — main chain (dy on [1, level, 2 dy
    * lags]) gives the coefficient; the FWL auxiliary chain (level on
    * [1, dy lags]) gives RSS_aux = 1/[(X'X)^-1]_11, so
    * t = b1·sqrt(RSS_aux·(n−4)/RSS_main); MacKinnon (1994) p via the
    * response-surface polynomial and Φ(x) = erfc(∓x/√2)/2. */
  private def adfFullOracle: String = {
    s"""WITH base AS (
           SELECT user_id, value AS v, epoch_us(ts) AS ts_us FROM events),
         lagd AS (
           SELECT user_id,
             v - lag(v, 1) OVER w AS y1,
             lag(v, 1) OVER w AS x1,
             lag(v, 1) OVER w - lag(v, 2) OVER w AS x2,
             lag(v, 2) OVER w - lag(v, 3) OVER w AS x3
           FROM base WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
         d0 AS (SELECT * FROM lagd WHERE x3 IS NOT NULL),
         sums AS (
           SELECT user_id, count(*) AS n,
             sum(y1*y1) AS syy, sum(y1) AS sy,
             sum(x1*y1) AS sx1y, sum(x2*y1) AS sx2y, sum(x3*y1) AS sx3y,
             sum(x1*x1) AS sx1x1, sum(x1) AS sx1,
             sum(x2*x1) AS sx2x1, sum(x3*x1) AS sx3x1
           FROM d0 GROUP BY user_id),
         ${olsCtes("au", "d0", 3, nT = 1)},
         d0x AS (SELECT user_id, x1 AS y1, x2 AS x1, x3 AS x2 FROM d0),
         ${olsCtes("ax", "d0x", 2, nT = 1)},
         j AS (
           SELECT s.user_id, s.n,
             auc.b1_1 AS beta1,
             s.syy - (auc.b0_1*s.sy + auc.b1_1*s.sx1y + auc.b2_1*s.sx2y
               + auc.b3_1*s.sx3y) AS rss_main,
             s.sx1x1 - (axc.b0_1*s.sx1 + axc.b1_1*s.sx2x1
               + axc.b2_1*s.sx3x1) AS rss_aux
           FROM sums s
           JOIN auc ON s.user_id = auc.user_id
           JOIN axc ON s.user_id = axc.user_id),
         tst AS (
           SELECT user_id,
             beta1 * sqrt(rss_aux * (n - 4) / rss_main) AS t
           FROM j WHERE rss_main > 0 AND rss_aux > 0),
         mk AS (
           SELECT user_id, t,
             CASE WHEN t <= -1.61 THEN 2.1659 + 1.4412*t + 0.038269*t*t
                  ELSE 1.7339 + 0.93202*t - 0.12359*t*t + 0.0061654*t*t*t
             END AS poly
           FROM tst),
         ph AS (
           SELECT user_id, t, poly, abs(poly)/sqrt(2.0) AS z FROM mk),
         pp AS (
           SELECT user_id, t,
             CASE WHEN t > 2.74 THEN 1.0
                  WHEN t < -18.83 THEN 0.0
                  WHEN poly >= 0 THEN 1.0 - 0.5 * (${erfcSql("z")})
                  ELSE 0.5 * (${erfcSql("z")})
             END AS p
           FROM ph)
         SELECT user_id, round(t, 6) AS df_stat, round(p, 6) AS p_value
         FROM pp"""
  }

  /** m34: lag-2 Granger F — unrestricted (intercept + 2 y-lags + 2 x-lags)
    * and restricted (intercept + 2 y-lags) OLS over the SAME design rows
    * via two generated chains, RSS from raw moments with the kernel's
    * clamp-at-0, F = ((rssR − rssU)/p)/(rssU/df2). */
  private def grangerOracle: String = {
    def rss(pfx: String, k: Int): String = {
      val terms = (1 to k).map(i => s"- ${pfx}b${i}_1*sxy${i}_1").mkString(" ")
      s"greatest(yy - ${pfx}b0_1*sy1 $terms, 0.0)"
    }
    s"""WITH daily AS (
           SELECT user_id, epoch_us(date_trunc('day', ts)) AS day_us,
             avg(value) AS v
           FROM events GROUP BY 1, 2),
         market AS (SELECT day_us, avg(v) AS mkt FROM daily GROUP BY 1),
         pair AS (
           SELECT d.user_id, d.day_us, d.v, market.mkt
           FROM daily d JOIN market USING (day_us)),
         lagd AS (
           SELECT user_id, v AS y1,
             lag(v, 1) OVER w AS x1, lag(v, 2) OVER w AS x2,
             lag(mkt, 1) OVER w AS x3, lag(mkt, 2) OVER w AS x4
           FROM pair WINDOW w AS (PARTITION BY user_id ORDER BY day_us)),
         d0 AS (SELECT * FROM lagd WHERE x2 IS NOT NULL AND x4 IS NOT NULL),
         sums AS (
           SELECT user_id, count(*) AS n, sum(y1*y1) AS yy, sum(y1) AS sy1,
             ${(1 to 4).map(i => s"sum(x$i*y1) AS sxy${i}_1").mkString(", ")}
           FROM d0 GROUP BY user_id),
         ${olsCtes("fu", "d0", 4, nT = 1)},
         ${olsCtes("fr", "d0", 2, nT = 1)},
         j AS (
           SELECT s.user_id, s.n,
             ${(0 to 4).map(i => s"fuc.b${i}_1 AS fub${i}_1").mkString(", ")},
             ${(0 to 2).map(i => s"frc.b${i}_1 AS frb${i}_1").mkString(", ")},
             s.yy, s.sy1, ${(1 to 4).map(i => s"s.sxy${i}_1").mkString(", ")}
           FROM sums s
           JOIN fuc ON s.user_id = fuc.user_id
           JOIN frc ON s.user_id = frc.user_id),
         r AS (
           SELECT user_id, n, ${rss("fu", 4)} AS rss_u, ${rss("fr", 2)} AS rss_r
           FROM j)
         SELECT user_id, n AS n_obs, 2::BIGINT AS df1, (n - 5)::BIGINT AS df2,
           round(((rss_r - rss_u) / 2) / (rss_u / (n - 5)), 5) + 0.0 AS f_stat
         FROM r WHERE n > 5 AND rss_u > 0"""
  }

  /** m36: unnest (step, impulse, response, irf, irf_orth) from the Θ chain. */
  private def varpIrfOracle: String = {
    val h = 4
    def cell(s: Int, r: Int, c: Int, th: Boolean): String =
      if (th) s"th${s}_$r$c"
      else if (s == 0) (if (r == c) "1.0" else "0.0")
      else s"ph${s}_$r$c"
    val cells = for (s <- 0 to h; i <- 1 to 3; j <- 1 to 3) yield (s, i, j)
    s"""WITH $varpSolveCtes,
         ${varpThetaCtes(h)},
         u AS (
           SELECT user_id,
             unnest([${cells.map(_._1).mkString(",")}]) AS step,
             unnest([${cells.map(c => s"'${varNames(c._3 - 1)}'").mkString(",")}]) AS impulse,
             unnest([${cells.map(c => s"'${varNames(c._2 - 1)}'").mkString(",")}]) AS response,
             unnest([${cells.map(c => cell(c._1, c._2, c._3, th = false)).mkString(",")}]) AS irf,
             unnest([${cells.map(c => cell(c._1, c._2, c._3, th = true)).mkString(",")}]) AS irf_orth
           FROM th)
         SELECT user_id, step::BIGINT AS step, impulse, response,
           round(irf, 5) + 0.0 AS irf, round(irf_orth, 5) + 0.0 AS irf_orth
         FROM u"""
  }

  /** m37: FEVD shares Σ_s θ²/rowsum over the same Θ chain (h=5 → s<5). */
  private def varpFevdOracle: String = {
    val h = 5
    def acc(r: Int, c: Int) =
      (0 until h).map(s => s"th${s}_$r$c*th${s}_$r$c").mkString(" + ")
    val accs = (for (r <- 1 to 3; c <- 1 to 3)
      yield s"${acc(r, c)} AS acc_$r$c").mkString(",\n             ")
    val cells = for (r <- 1 to 3; c <- 1 to 3) yield (r, c)
    s"""WITH $varpSolveCtes,
         ${varpThetaCtes(h - 1)},
         f AS (SELECT *,
             $accs
           FROM th),
         u AS (
           SELECT user_id,
             unnest([${cells.map(c => s"'${varNames(c._1 - 1)}'").mkString(",")}]) AS variable,
             unnest([${cells.map(c => s"'${varNames(c._2 - 1)}'").mkString(",")}]) AS shock,
             unnest([${cells.map(c => s"acc_${c._1}${c._2} / (acc_${c._1}1 + acc_${c._1}2 + acc_${c._1}3)").mkString(",")}]) AS fevd
           FROM f)
         SELECT user_id, variable, shock, $h::BIGINT AS h,
           round(fevd, 5) + 0.0 AS fevd FROM u"""
  }

  /** m38: the m33 forecast recursion joined with running MSE diagonals
    * mse_i(s) = Σ_{u<s} (Φ_u Σ̂ Φ_u′)_ii from the Θ chain; 95% bands with
    * the Acklam z the Scala side uses. */
  private def varpIntervalsOracle: String = {
    val h = 5
    val z = "1.959963986120195"
    def msq(u: Int, i: Int) = { // (Φ_u Σ Φ_u')_ii
      def ph(q: Int) = if (u == 0) (if (i == q) "1.0" else "0.0") else s"ph${u}_$i$q"
      (for (a2 <- 1 to 3; b2 <- 1 to 3)
        yield s"${ph(a2)}*s$a2$b2*${ph(b2)}").mkString(" + ")
    }
    val mses = (for (s <- 1 to h; i <- 1 to 3)
      yield s"${(0 until s).map(u => s"(${msq(u, i)})").mkString(" + ")} AS mse${s}_$i")
      .mkString(",\n             ")
    val cells = for (s <- 1 to h; i <- 1 to 3) yield (s, i)
    s"""WITH $varpSolveCtes,
         ${varpThetaCtes(h - 1)},
         hist AS (
           SELECT user_id, day_us, v, cnt, mkt,
             row_number() OVER (PARTITION BY user_id ORDER BY day_us DESC) AS rn
           FROM triple),
         last2 AS (
           SELECT user_id,
             max(CASE WHEN rn = 1 THEN day_us END) AS tlast,
             max(CASE WHEN rn = 1 THEN v END) AS p1_v,
             max(CASE WHEN rn = 1 THEN cnt END) AS p1_cnt,
             max(CASE WHEN rn = 1 THEN mkt END) AS p1_mkt,
             max(CASE WHEN rn = 2 THEN v END) AS p2_v,
             max(CASE WHEN rn = 2 THEN cnt END) AS p2_cnt,
             max(CASE WHEN rn = 2 THEN mkt END) AS p2_mkt
           FROM hist WHERE rn <= 2 GROUP BY user_id),
         med AS (
           SELECT user_id,
             CASE WHEN len(sts) > 0 THEN sts[len(sts) // 2 + 1]
                  ELSE 1 END AS step_us
           FROM (
             SELECT user_id, list(st ORDER BY st) AS sts
             FROM (SELECT user_id, day_us - lag(day_us) OVER
                     (PARTITION BY user_id ORDER BY day_us) AS st
                   FROM triple)
             WHERE st IS NOT NULL GROUP BY user_id)),
         f1 AS (
           SELECT th.*, l.* EXCLUDE (user_id), m.step_us,
             b0_1 + b1_1*p1_v + b2_1*p1_cnt + b3_1*p1_mkt
                  + b4_1*p2_v + b5_1*p2_cnt + b6_1*p2_mkt AS f1_v,
             b0_2 + b1_2*p1_v + b2_2*p1_cnt + b3_2*p1_mkt
                  + b4_2*p2_v + b5_2*p2_cnt + b6_2*p2_mkt AS f1_cnt,
             b0_3 + b1_3*p1_v + b2_3*p1_cnt + b3_3*p1_mkt
                  + b4_3*p2_v + b5_3*p2_cnt + b6_3*p2_mkt AS f1_mkt
           FROM th JOIN last2 l USING (user_id) JOIN med m USING (user_id)),
         f2 AS (SELECT *,
             b0_1 + b1_1*f1_v + b2_1*f1_cnt + b3_1*f1_mkt
                  + b4_1*p1_v + b5_1*p1_cnt + b6_1*p1_mkt AS f2_v,
             b0_2 + b1_2*f1_v + b2_2*f1_cnt + b3_2*f1_mkt
                  + b4_2*p1_v + b5_2*p1_cnt + b6_2*p1_mkt AS f2_cnt,
             b0_3 + b1_3*f1_v + b2_3*f1_cnt + b3_3*f1_mkt
                  + b4_3*p1_v + b5_3*p1_cnt + b6_3*p1_mkt AS f2_mkt
           FROM f1),
         f3 AS (SELECT *,
             b0_1 + b1_1*f2_v + b2_1*f2_cnt + b3_1*f2_mkt
                  + b4_1*f1_v + b5_1*f1_cnt + b6_1*f1_mkt AS f3_v,
             b0_2 + b1_2*f2_v + b2_2*f2_cnt + b3_2*f2_mkt
                  + b4_2*f1_v + b5_2*f1_cnt + b6_2*f1_mkt AS f3_cnt,
             b0_3 + b1_3*f2_v + b2_3*f2_cnt + b3_3*f2_mkt
                  + b4_3*f1_v + b5_3*f1_cnt + b6_3*f1_mkt AS f3_mkt
           FROM f2),
         f4 AS (SELECT *,
             b0_1 + b1_1*f3_v + b2_1*f3_cnt + b3_1*f3_mkt
                  + b4_1*f2_v + b5_1*f2_cnt + b6_1*f2_mkt AS f4_v,
             b0_2 + b1_2*f3_v + b2_2*f3_cnt + b3_2*f3_mkt
                  + b4_2*f2_v + b5_2*f2_cnt + b6_2*f2_mkt AS f4_cnt,
             b0_3 + b1_3*f3_v + b2_3*f3_cnt + b3_3*f3_mkt
                  + b4_3*f2_v + b5_3*f2_cnt + b6_3*f2_mkt AS f4_mkt
           FROM f3),
         f5 AS (SELECT *,
             b0_1 + b1_1*f4_v + b2_1*f4_cnt + b3_1*f4_mkt
                  + b4_1*f3_v + b5_1*f3_cnt + b6_1*f3_mkt AS f5_v,
             b0_2 + b1_2*f4_v + b2_2*f4_cnt + b3_2*f4_mkt
                  + b4_2*f3_v + b5_2*f3_cnt + b6_2*f3_mkt AS f5_cnt,
             b0_3 + b1_3*f4_v + b2_3*f4_cnt + b3_3*f4_mkt
                  + b4_3*f3_v + b5_3*f3_cnt + b6_3*f3_mkt AS f5_mkt
           FROM f4),
         fm AS (SELECT *,
             $mses
           FROM f5),
         u AS (
           SELECT user_id,
             unnest([${cells.map(_._1).mkString(",")}]) AS step,
             unnest([${cells.map(c => s"'${varNames(c._2 - 1)}'").mkString(",")}]) AS eq,
             unnest([${cells.map(c => s"f${c._1}_${varNames(c._2 - 1)}").mkString(",")}]) AS value,
             unnest([${cells.map(c => s"sqrt(greatest(mse${c._1}_${c._2}, 0.0))").mkString(",")}]) AS se,
             tlast, step_us
           FROM fm)
         SELECT user_id, step::BIGINT AS step,
           (tlast + step_us * step)::BIGINT AS day_us, eq,
           round(value, 5) + 0.0 AS value, round(se, 5) + 0.0 AS se,
           round(value - $z*se, 5) + 0.0 AS lo,
           round(value + $z*se, 5) + 0.0 AS hi
         FROM u"""
  }

  /** Shared DuckDB CTE chain for the m32/m33 oracles: lag-aligned VAR(2)
    * design rows, Gram-Schmidt orthogonal basis u1..u6, and the
    * back-substituted coefficients b{0..6}_{1..3} per user (t0). */
  private val varpSolveCtes: String = """daily AS (
           SELECT user_id, epoch_us(date_trunc('day', ts)) AS day_us,
             avg(value) AS v, count(*)::DOUBLE AS cnt
           FROM events GROUP BY 1, 2),
         market AS (SELECT day_us, avg(v) AS mkt FROM daily GROUP BY 1),
         triple AS (
           SELECT d.user_id, d.day_us, d.v, d.cnt, market.mkt
           FROM daily d JOIN market USING (day_us)),
         lagd AS (
           SELECT user_id, v AS y1, cnt AS y2, mkt AS y3,
             lag(v, 1) OVER w AS x1, lag(cnt, 1) OVER w AS x2,
             lag(mkt, 1) OVER w AS x3, lag(v, 2) OVER w AS x4,
             lag(cnt, 2) OVER w AS x5, lag(mkt, 2) OVER w AS x6
           FROM triple WINDOW w AS (PARTITION BY user_id ORDER BY day_us)),
         d0 AS (SELECT * FROM lagd
                WHERE x4 IS NOT NULL AND x5 IS NOT NULL AND x6 IS NOT NULL),
         g1 AS (
           SELECT user_id, y1, y2, y3,
             x1 - avg(x1) OVER w AS u1,
             x2 - avg(x2) OVER w AS c2, x3 - avg(x3) OVER w AS c3,
             x4 - avg(x4) OVER w AS c4, x5 - avg(x5) OVER w AS c5,
             x6 - avg(x6) OVER w AS c6,
             avg(x1) OVER w AS m1, avg(x2) OVER w AS m2, avg(x3) OVER w AS m3,
             avg(x4) OVER w AS m4, avg(x5) OVER w AS m5, avg(x6) OVER w AS m6
           FROM d0 WINDOW w AS (PARTITION BY user_id)),
         g2 AS (SELECT *,
             c2 - sum(u1*c2) OVER w / sum(u1*u1) OVER w * u1 AS u2
           FROM g1 WINDOW w AS (PARTITION BY user_id)),
         g3 AS (SELECT *,
             c3 - sum(u1*c3) OVER w / sum(u1*u1) OVER w * u1
                - sum(u2*c3) OVER w / sum(u2*u2) OVER w * u2 AS u3
           FROM g2 WINDOW w AS (PARTITION BY user_id)),
         g4 AS (SELECT *,
             c4 - sum(u1*c4) OVER w / sum(u1*u1) OVER w * u1
                - sum(u2*c4) OVER w / sum(u2*u2) OVER w * u2
                - sum(u3*c4) OVER w / sum(u3*u3) OVER w * u3 AS u4
           FROM g3 WINDOW w AS (PARTITION BY user_id)),
         g5 AS (SELECT *,
             c5 - sum(u1*c5) OVER w / sum(u1*u1) OVER w * u1
                - sum(u2*c5) OVER w / sum(u2*u2) OVER w * u2
                - sum(u3*c5) OVER w / sum(u3*u3) OVER w * u3
                - sum(u4*c5) OVER w / sum(u4*u4) OVER w * u4 AS u5
           FROM g4 WINDOW w AS (PARTITION BY user_id)),
         g6 AS (SELECT *,
             c6 - sum(u1*c6) OVER w / sum(u1*u1) OVER w * u1
                - sum(u2*c6) OVER w / sum(u2*u2) OVER w * u2
                - sum(u3*c6) OVER w / sum(u3*u3) OVER w * u3
                - sum(u4*c6) OVER w / sum(u4*u4) OVER w * u4
                - sum(u5*c6) OVER w / sum(u5*u5) OVER w * u5 AS u6
           FROM g5 WINDOW w AS (PARTITION BY user_id)),
         agg AS (
           SELECT user_id, count(*) AS nobs,
             any_value(m1) AS m1, any_value(m2) AS m2, any_value(m3) AS m3,
             any_value(m4) AS m4, any_value(m5) AS m5, any_value(m6) AS m6,
             avg(y1) AS my1, avg(y2) AS my2, avg(y3) AS my3,
             sum(u1*u1) AS s1, sum(u2*u2) AS s2, sum(u3*u3) AS s3,
             sum(u4*u4) AS s4, sum(u5*u5) AS s5, sum(u6*u6) AS s6,
             sum(u1*c2) AS r12, sum(u1*c3) AS r13, sum(u1*c4) AS r14,
             sum(u1*c5) AS r15, sum(u1*c6) AS r16,
             sum(u2*c3) AS r23, sum(u2*c4) AS r24, sum(u2*c5) AS r25,
             sum(u2*c6) AS r26,
             sum(u3*c4) AS r34, sum(u3*c5) AS r35, sum(u3*c6) AS r36,
             sum(u4*c5) AS r45, sum(u4*c6) AS r46, sum(u5*c6) AS r56,
             sum(u1*y1) AS g11, sum(u1*y2) AS g12, sum(u1*y3) AS g13,
             sum(u2*y1) AS g21, sum(u2*y2) AS g22, sum(u2*y3) AS g23,
             sum(u3*y1) AS g31, sum(u3*y2) AS g32, sum(u3*y3) AS g33,
             sum(u4*y1) AS g41, sum(u4*y2) AS g42, sum(u4*y3) AS g43,
             sum(u5*y1) AS g51, sum(u5*y2) AS g52, sum(u5*y3) AS g53,
             sum(u6*y1) AS g61, sum(u6*y2) AS g62, sum(u6*y3) AS g63
           FROM g6 GROUP BY user_id HAVING count(*) >= 7),
         t6 AS (SELECT *, g61/s6 AS b6_1, g62/s6 AS b6_2, g63/s6 AS b6_3
                FROM agg),
         t5 AS (SELECT *,
             g51/s5 - r56/s5*b6_1 AS b5_1, g52/s5 - r56/s5*b6_2 AS b5_2,
             g53/s5 - r56/s5*b6_3 AS b5_3 FROM t6),
         t4 AS (SELECT *,
             g41/s4 - r45/s4*b5_1 - r46/s4*b6_1 AS b4_1,
             g42/s4 - r45/s4*b5_2 - r46/s4*b6_2 AS b4_2,
             g43/s4 - r45/s4*b5_3 - r46/s4*b6_3 AS b4_3 FROM t5),
         t3 AS (SELECT *,
             g31/s3 - r34/s3*b4_1 - r35/s3*b5_1 - r36/s3*b6_1 AS b3_1,
             g32/s3 - r34/s3*b4_2 - r35/s3*b5_2 - r36/s3*b6_2 AS b3_2,
             g33/s3 - r34/s3*b4_3 - r35/s3*b5_3 - r36/s3*b6_3 AS b3_3 FROM t4),
         t2 AS (SELECT *,
             g21/s2 - r23/s2*b3_1 - r24/s2*b4_1 - r25/s2*b5_1 - r26/s2*b6_1 AS b2_1,
             g22/s2 - r23/s2*b3_2 - r24/s2*b4_2 - r25/s2*b5_2 - r26/s2*b6_2 AS b2_2,
             g23/s2 - r23/s2*b3_3 - r24/s2*b4_3 - r25/s2*b5_3 - r26/s2*b6_3 AS b2_3 FROM t3),
         t1 AS (SELECT *,
             g11/s1 - r12/s1*b2_1 - r13/s1*b3_1 - r14/s1*b4_1 - r15/s1*b5_1 - r16/s1*b6_1 AS b1_1,
             g12/s1 - r12/s1*b2_2 - r13/s1*b3_2 - r14/s1*b4_2 - r15/s1*b5_2 - r16/s1*b6_2 AS b1_2,
             g13/s1 - r12/s1*b2_3 - r13/s1*b3_3 - r14/s1*b4_3 - r15/s1*b5_3 - r16/s1*b6_3 AS b1_3 FROM t2),
         t0 AS (SELECT *,
             my1 - b1_1*m1 - b2_1*m2 - b3_1*m3 - b4_1*m4 - b5_1*m5 - b6_1*m6 AS b0_1,
             my2 - b1_2*m1 - b2_2*m2 - b3_2*m3 - b4_2*m4 - b5_2*m5 - b6_2*m6 AS b0_2,
             my3 - b1_3*m1 - b2_3*m2 - b3_3*m3 - b4_3*m4 - b5_3*m5 - b6_3*m6 AS b0_3 FROM t1)"""

  /** m11 (r16): the 20 Cochrane-Orcutt rounds unrolled as generated CTEs.
    * Each round is (a) rho from the lag-1 residual regression under the
    * previous betas, then (b) a quasi-differenced simple regression via
    * regr_slope/regr_intercept with the intercept mapped back through
    * 1/(1-rho) — exactly RegressionARIMA.fitCochraneOrcutt with tol=0.0
    * (both sides run all 20 rounds; an early exact fixed point makes the
    * extra rounds no-ops, so no floating-point stopping rule is needed). */
  private lazy val cochraneOrcuttOracle: String = {
    val iters = (1 to 20).map { k =>
      s"""rho$k AS MATERIALIZED (
           SELECT s.user_id, s.b0, s.b1, s.rho AS rho_prev,
             CASE WHEN sum((b.yl - s.b0 - s.b1 * b.xl) * (b.yl - s.b0 - s.b1 * b.xl)) > 0
                  THEN sum((b.y - s.b0 - s.b1 * b.x) * (b.yl - s.b0 - s.b1 * b.xl))
                       / sum((b.yl - s.b0 - s.b1 * b.xl) * (b.yl - s.b0 - s.b1 * b.xl))
                  ELSE 0.0 END AS rho
           FROM st${k - 1} s JOIN base b USING (user_id)
           WHERE b.yl IS NOT NULL
           GROUP BY s.user_id, s.b0, s.b1, s.rho),
         st$k AS MATERIALIZED (
           SELECT r.user_id,
             regr_intercept(b.y - r.rho * b.yl, b.x - r.rho * b.xl)
               / (1.0 - r.rho) AS b0,
             regr_slope(b.y - r.rho * b.yl, b.x - r.rho * b.xl) AS b1,
             r.rho AS rho
           FROM rho$k r JOIN base b USING (user_id)
           WHERE b.yl IS NOT NULL
           GROUP BY r.user_id, r.rho)"""
    }.mkString(",\n         ")
    s"""WITH daily AS (
           SELECT user_id, epoch_us(date_trunc('day', ts)) AS day_us,
             avg(value) AS value
           FROM events GROUP BY 1, 2),
         base AS MATERIALIZED (
           SELECT user_id, value AS y,
             (row_number() OVER w - 1)::DOUBLE AS x,
             lag(value) OVER w AS yl,
             (row_number() OVER w - 2)::DOUBLE AS xl
           FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day_us)),
         st0 AS MATERIALIZED (
           SELECT user_id, regr_intercept(y, x) AS b0, regr_slope(y, x) AS b1,
             0.0 AS rho
           FROM base GROUP BY user_id),
         $iters
         SELECT user_id::VARCHAR AS key,
           round(b0, 6) + 0.0 AS intercept, round(b1, 6) + 0.0 AS slope,
           round(rho, 6) + 0.0 AS rho
         FROM st20"""
  }

  val queries: Seq[Query] = Seq(
    Query("m01_arima_fit", (s, dir) =>
      // coefficients flattened to scalar columns: the driver's pandas
      // comparator cannot sort array cells
      graft.models.ModelOps.fitArima(obs(s, dir), 1, 0, 1,
        key = "user_id", ts = "ts_us", value = "value").toDF()
        .select(col("key"), col("p"), col("d"), col("q"),
          try_element_at(col("coefficients"), lit(1)).as("intercept"),
          try_element_at(col("coefficients"), lit(2)).as("ar_1"),
          try_element_at(col("coefficients"), lit(3)).as("ma_1"),
          col("logLikelihood"), col("aic"), col("stationary"), col("invertible"))),
    Query("m02_ewma_fit", (s, dir) =>
      graft.models.ModelOps.fitEwma(obs(s, dir),
        key = "user_id", ts = "ts_us", value = "value").toDF()),
    Query("m03_ar_fit", (s, dir) =>
      // TRUE DuckDB oracle (r16): the AR(2) least-squares fit is a
      // 2-regressor OLS, replayed in SQL by the centered 2x2 normal
      // equations (same closed form the m31 oracle uses); + 0.0
      // normalizes any -0.0 a rounded coefficient could produce
      graft.models.ModelOps.fitAr(obs(s, dir), 2,
        key = "user_id", ts = "ts_us", value = "value").toDF()
        .select(col("key"), (round(col("c"), 6) + lit(0.0)).as("c"),
          (round(try_element_at(col("coefficients"), lit(1)), 6) + lit(0.0)).as("ar_1"),
          (round(try_element_at(col("coefficients"), lit(2)), 6) + lit(0.0)).as("ar_2"))).oracle(
      // m03 (r16): the AR(2) OLS replayed by the centered 2x2 normal
      // equations — covariance ratios are denominator-free, so var_samp/
      // covar_samp give the exact least-squares solution
      """WITH p AS (
           SELECT user_id, value AS v,
             lag(value, 1) OVER w AS x1, lag(value, 2) OVER w AS x2
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))),
         a AS (
           SELECT user_id, var_samp(x1) AS s11, var_samp(x2) AS s22,
             covar_samp(x1, x2) AS s12, covar_samp(x1, v) AS s1y,
             covar_samp(x2, v) AS s2y,
             avg(v) AS my, avg(x1) AS m1, avg(x2) AS m2
           FROM p WHERE x2 IS NOT NULL GROUP BY user_id),
         g AS (
           SELECT user_id,
             (s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12) AS b1,
             (s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) AS b2,
             my, m1, m2
           FROM a WHERE s11 * s22 - s12 * s12 > 0)
         SELECT user_id::VARCHAR AS key,
           round(my - b1 * m1 - b2 * m2, 6) + 0.0 AS c,
           round(b1, 6) + 0.0 AS ar_1, round(b2, 6) + 0.0 AS ar_2
         FROM g"""),
    Query("m04_arima_forecast", (s, dir) =>
      graft.models.ModelOps.forecastArima(obs(s, dir), 1, 0, 1, h = 5,
        key = "user_id", ts = "ts_us", value = "value").toDF()),
    Query("m05_kpss", (s, dir) =>
      // full oracle: the Newey-West long-run variance, cumsum statistic and
      // the published-table piecewise-linear p interpolation all replay in
      // SQL (the automatic Schwert lag ceil(12*(n/100)^.25) included)
      graft.models.ModelOps.kpssAll(obs(s, dir),
        key = "user_id", ts = "ts_us", value = "value").toDF()
        .select(col("key").cast("long").as("user_id"),
          round(col("statistic"), 6).as("kpss_stat"),
          round(col("pValue"), 6).as("p_value"))).oracle(
      """WITH b AS (
           SELECT user_id, value, epoch_us(ts) AS ts_us FROM events
         ), r AS (
           SELECT user_id, value - avg(value) OVER (PARTITION BY user_id) AS e,
             row_number() OVER (PARTITION BY user_id ORDER BY ts_us) AS t,
             count(*) OVER (PARTITION BY user_id) AS n
           FROM b
         ), lt AS (
           SELECT user_id, any_value(n) AS n,
             ceil(12.0 * pow(any_value(n)/100.0, 0.25))::INT AS l,
             sum(e*e)/any_value(n) AS s0
           FROM r GROUP BY user_id
         ), ks AS (
           SELECT user_id, n, l, s0, unnest(range(1, l + 1))::INT AS k FROM lt
         ), gam AS (
           SELECT ks.user_id, ks.k, ks.l, ks.n,
             sum(a.e * bb.e) / ks.n AS g
           FROM ks
           JOIN r a ON a.user_id = ks.user_id
           JOIN r bb ON bb.user_id = a.user_id AND bb.t = a.t - ks.k
           GROUP BY ks.user_id, ks.k, ks.l, ks.n
         ), s2 AS (
           SELECT lt.user_id, lt.n,
             lt.s0 + coalesce(2 * sum((1.0 - gam.k/(gam.l + 1.0)) * gam.g), 0) AS s2
           FROM lt LEFT JOIN gam ON lt.user_id = gam.user_id
           GROUP BY lt.user_id, lt.n, lt.s0
         ), cum AS (
           SELECT user_id, sum(e) OVER (PARTITION BY user_id ORDER BY t) AS cs
           FROM r
         ), cc AS (
           SELECT user_id, sum(cs*cs) AS ss FROM cum GROUP BY user_id
         ), st AS (
           SELECT s2.user_id, cc.ss / (s2.n::DOUBLE * s2.n * s2.s2) AS stat
           FROM s2 JOIN cc ON s2.user_id = cc.user_id
         )
         SELECT user_id, round(stat, 6) AS kpss_stat,
           round(CASE WHEN stat <= 0.347 THEN 0.10
                      WHEN stat >= 0.739 THEN 0.01
                      WHEN stat <= 0.463 THEN 0.10 + (0.05-0.10)*(stat-0.347)/(0.463-0.347)
                      WHEN stat <= 0.574 THEN 0.05 + (0.025-0.05)*(stat-0.463)/(0.574-0.463)
                      ELSE 0.025 + (0.01-0.025)*(stat-0.574)/(0.739-0.574) END,
             6) AS p_value
         FROM st"""),
    Query("m06_holtwinters_fit", (s, dir) => {
      // weekly-seasonal HW on the per-user daily mean series
      val daily = TS.resampleCalendar(obs(s, dir), "DAY", avg(_: Column),
        key = "user_id", ts = "ts_us", value = "value", tickNanos = 1000L)
        .withColumn("day_us", unix_micros(col("bucket_ts")))
      graft.models.ModelOps.fitHoltWinters(daily, period = 7,
        key = "user_id", ts = "day_us", value = "value").toDF()
    }),
    Query("m07_garch_fit", (s, dir) => {
      val rets = TS.returnRates(obs(s, dir),
        key = "user_id", ts = "ts_us", value = "value")
      graft.models.ModelOps.fitGarch(rets,
        key = "user_id", ts = "ts_us", value = "value").toDF()
    }),
    Query("m08_ljungbox", (s, dir) =>
      // full oracle: m18's autocovariance statistic plus the EXACT even-df
      // chi-squared survival function (df=10: exp(-q/2)*sum_{k<5}(q/2)^k/k!)
      graft.models.ModelOps.ljungBoxAll(obs(s, dir), lags = 10,
        key = "user_id", ts = "ts_us", value = "value").toDF()
        .select(col("key").cast("long").as("user_id"),
          round(col("statistic"), 6).as("lb_stat"),
          round(col("pValue"), 6).as("p_value"))).oracle(
      """WITH b AS (
           SELECT user_id, value, epoch_us(ts) AS ts_us,
             avg(value) OVER (PARTITION BY user_id) AS mu,
             count(*) OVER (PARTITION BY user_id) AS n
           FROM events
         ), l AS (
           SELECT user_id, n, value - mu AS e,
             lag(value - mu, 1) OVER w AS e1, lag(value - mu, 2) OVER w AS e2,
             lag(value - mu, 3) OVER w AS e3, lag(value - mu, 4) OVER w AS e4,
             lag(value - mu, 5) OVER w AS e5, lag(value - mu, 6) OVER w AS e6,
             lag(value - mu, 7) OVER w AS e7, lag(value - mu, 8) OVER w AS e8,
             lag(value - mu, 9) OVER w AS e9, lag(value - mu, 10) OVER w AS e10
           FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
         ), agg AS (
           SELECT user_id, any_value(n) AS n, sum(e*e) AS c0,
             sum(e*e1) AS c1, sum(e*e2) AS c2, sum(e*e3) AS c3,
             sum(e*e4) AS c4, sum(e*e5) AS c5, sum(e*e6) AS c6,
             sum(e*e7) AS c7, sum(e*e8) AS c8, sum(e*e9) AS c9,
             sum(e*e10) AS c10
           FROM l GROUP BY user_id
         ), q AS (
           SELECT user_id, n*(n+2) * (
             (c1/c0)*(c1/c0)/(n-1) + (c2/c0)*(c2/c0)/(n-2) +
             (c3/c0)*(c3/c0)/(n-3) + (c4/c0)*(c4/c0)/(n-4) +
             (c5/c0)*(c5/c0)/(n-5) + (c6/c0)*(c6/c0)/(n-6) +
             (c7/c0)*(c7/c0)/(n-7) + (c8/c0)*(c8/c0)/(n-8) +
             (c9/c0)*(c9/c0)/(n-9) + (c10/c0)*(c10/c0)/(n-10)) AS q
           FROM agg
         )
         SELECT user_id, round(q, 6) AS lb_stat,
           round(exp(-q/2) * (1 + q/2 + (q/2)*(q/2)/2
             + (q/2)*(q/2)*(q/2)/6 + (q/2)*(q/2)*(q/2)*(q/2)/24), 6) AS p_value
         FROM q"""),
    Query("m09_adf", (s, dir) =>
      graft.models.ModelOps.adfAll(obs(s, dir),
        key = "user_id", ts = "ts_us", value = "value").toDF()),
    Query("m10_arima_autofit", (s, dir) =>
      // stepwise order search is ~10 fits per key; bounded key set keeps the
      // query a constant-cost smoke of the capability at any SF
      graft.models.ModelOps.autoFitArima(
        obs(s, dir).filter(col("user_id") < 20),
        key = "user_id", ts = "ts_us", value = "value").toDF()
        .select(col("key"), col("p"), col("d"), col("q"),
          try_element_at(col("coefficients"), lit(1)).as("coef_1"),
          try_element_at(col("coefficients"), lit(2)).as("coef_2"),
          try_element_at(col("coefficients"), lit(3)).as("coef_3"),
          col("logLikelihood"), col("aic"))),
    Query("m11_cochrane_orcutt", (s, dir) => {
      // regression of each user's daily mean on the day rank, AR(1) errors
      val daily = Tables.events(s, dir)
        .groupBy(col("user_id"), unix_micros(date_trunc("DAY",
          timestamp_micros(col("ts_us")))).as("day_us"))
        .agg(avg("value").as("value"))
      PerSeries(daily, "user_id", "day_us", "value") { (k, _, y) =>
        PerSeries.skipOnFailure {
          val x = Array.tabulate(y.length)(i => Array(i.toDouble))
          // tol = 0.0 pins the iteration count: both engine and oracle run
          // the full 20 Cochrane-Orcutt rounds (any early stop is an exact
          // fixed point, where extra rounds are no-ops), so the TRUE
          // DuckDB oracle (r16) can unroll the same 20 rounds without
          // replicating a floating-point stopping rule
          val m = graft.models.RegressionARIMA.fitCochraneOrcutt(y, x, tol = 0.0)
          Some((k, m.beta(0), m.beta(1), m.rho))
        }
      }.toDF("key", "intercept", "slope", "rho")
        .select(col("key"), (round(col("intercept"), 6) + lit(0.0)).as("intercept"),
          (round(col("slope"), 6) + lit(0.0)).as("slope"),
          (round(col("rho"), 6) + lit(0.0)).as("rho"))
    }).oracle(cochraneOrcuttOracle),
    Query("m12_arimax", (s, dir) => {
      // per-user daily mean value with the daily event count as an
      // exogenous regressor: ARIMAX(1,0,0; xLag=1)
      val daily = Tables.events(s, dir)
        .groupBy(col("user_id"), unix_micros(date_trunc("DAY",
          timestamp_micros(col("ts_us")))).as("day_us"))
        .agg(avg("value").as("value"), count(lit(1)).cast("double").as("n_events"))
      PerSeries.rows(daily, "user_id", "day_us", Seq("value", "n_events")) { (k, _, yx) =>
        PerSeries.skipOnFailure {
          val m = graft.models.ARIMAX.fitModel(1, 0, 0, yx.map(_(0)),
            yx.map(r => Array(r(1))), xLag = 1)
          Some((k, m.intercept, m.arCoefs.headOption.getOrElse(0.0),
            m.xCoefs(0)(0), m.xCoefs(0)(1)))
        }
      }.toDF("key", "intercept", "ar1", "beta_x0", "beta_x1")
    }),
    Query("m13_durbin_watson", (s, dir) =>
      graft.models.ModelOps.durbinWatsonAll(obs(s, dir),
        key = "user_id", ts = "ts_us", value = "value").toDF()
        .select(col("key").cast("long").as("user_id"),
          round(col("dw"), 6).as("dw"))).oracle(
      """SELECT user_id, round(num/den, 6) AS dw FROM (
           SELECT user_id,
             sum(CASE WHEN pv IS NOT NULL THEN (value-pv)*(value-pv) END) AS num,
             sum(value*value) AS den
           FROM (SELECT user_id, value,
                   lag(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS pv
                 FROM events) t
           GROUP BY user_id) x"""),
    Query("m14_breusch_godfrey", (s, dir) =>
      // full oracle: the m39 FWL statistic plus the exact df=2 chi-squared
      // survival function exp(-x/2)
      graft.models.ModelOps.breuschGodfreyAll(obs(s, dir), lags = 2,
        key = "user_id", ts = "ts_us", value = "value").toDF()
        .select(col("key").cast("long").as("user_id"),
          round(col("statistic"), 6).as("bg_stat"),
          round(col("pValue"), 6).as("p_value"))).oracle(
      """WITH b AS (
           SELECT user_id, value,
             (row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) - 1)::DOUBLE AS t
           FROM events
         ), fit AS (
           SELECT user_id, regr_slope(value, t) AS sl, regr_intercept(value, t) AS ic
           FROM b GROUP BY user_id
         ), e AS (
           SELECT b.user_id, b.t, b.value - fit.ic - fit.sl * b.t AS e
           FROM b JOIN fit USING (user_id)
         ), lagd AS (
           SELECT user_id, t, e,
             coalesce(lag(e, 1) OVER w, 0.0) AS e1,
             coalesce(lag(e, 2) OVER w, 0.0) AS e2
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)
         ), part AS (
           SELECT user_id, regr_slope(e1, t) AS sl1, regr_intercept(e1, t) AS ic1,
                  regr_slope(e2, t) AS sl2, regr_intercept(e2, t) AS ic2
           FROM lagd GROUP BY user_id
         ), tilde AS (
           SELECT l.user_id, l.e,
             l.e1 - p.ic1 - p.sl1 * l.t AS f1,
             l.e2 - p.ic2 - p.sl2 * l.t AS f2
           FROM lagd l JOIN part p USING (user_id)
         ), s AS (
           SELECT user_id, count(*) AS n, avg(e) AS me,
             sum(f1*f1) AS s11, sum(f2*f2) AS s22, sum(f1*f2) AS s12,
             sum(f1*e) AS c1, sum(f2*e) AS c2,
             sum(e*e) AS see
           FROM tilde GROUP BY user_id
         )
         , q AS (
           SELECT user_id, n * (
             ((c1*s22 - c2*s12)*c1 + (s11*c2 - s12*c1)*c2)
               / (s11*s22 - s12*s12)
           ) / (see - n*me*me) AS stat
           FROM s)
         SELECT user_id, round(stat, 6) AS bg_stat,
           round(exp(-stat/2), 6) AS p_value
         FROM q"""),
    Query("m15_breusch_pagan", (s, dir) =>
      // full oracle: the m40 regr_r2 statistic plus the df=1 chi-squared
      // survival erfc(sqrt(x/2)), with erfc built from SQL primitives
      // (Taylor series below z=2, Lentz continued fraction above — both
      // agree with libm erfc to ~1e-12 relative)
      graft.models.ModelOps.breuschPaganAll(obs(s, dir),
        key = "user_id", ts = "ts_us", value = "value").toDF()
        .select(col("key").cast("long").as("user_id"),
          round(col("statistic"), 6).as("bp_stat"),
          round(col("pValue"), 6).as("p_value"))).oracle(
      """WITH b AS (
           SELECT user_id, value,
             (row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) - 1)::DOUBLE AS t
           FROM events
         ), fit AS (
           SELECT user_id, regr_slope(value, t) AS sl, regr_intercept(value, t) AS ic
           FROM b GROUP BY user_id
         ), r AS (
           SELECT b.user_id, b.t,
             (b.value - fit.ic - fit.sl * b.t) * (b.value - fit.ic - fit.sl * b.t) AS sq
           FROM b JOIN fit USING (user_id)
         )
         , q AS (
           SELECT user_id, count(*) * regr_r2(sq, t) AS stat
           FROM r GROUP BY user_id
         ), pz AS (
           SELECT user_id, stat, sqrt(stat/2) AS z FROM q
         )
         SELECT user_id, round(stat, 6) AS bp_stat,
           round(CASE WHEN stat <= 0 THEN 1.0
             WHEN z < 2.0 THEN
               1.0 - 2.0/sqrt(pi()) * list_sum([
                 (CASE WHEN n % 2 = 0 THEN 1.0 ELSE -1.0 END)
                   * exp((2*n+1)*ln(z) - lgamma(n+1.0)) / (2*n+1)
                 FOR n IN range(0, 40)])
             ELSE
               exp(-z*z)/sqrt(pi()) / (z + list_reduce(
                 list_prepend(0.0, [kk::DOUBLE FOR kk IN range(60, 0, -1)]),
                 (acc, kk) -> (kk/2.0)/(z + acc)))
             END, 6) AS p_value
         FROM pz"""),
    Query("m16_hw_forecast", (s, dir) => {
      val daily = TS.resampleCalendar(obs(s, dir), "DAY", avg(_: Column),
        key = "user_id", ts = "ts_us", value = "value", tickNanos = 1000L)
        .withColumn("day_us", unix_micros(col("bucket_ts")))
      graft.models.ModelOps.forecastHoltWinters(daily, period = 7, h = 7,
        key = "user_id", ts = "day_us", value = "value").toDF()
    }),
    Query("m17_ewma_forecast", (s, dir) =>
      graft.models.ModelOps.forecastEwma(obs(s, dir), h = 5,
        key = "user_id", ts = "ts_us", value = "value").toDF()),
    Query("m18_ljungbox_stat", (s, dir) =>
      // the Ljung-Box STATISTIC is SQL-expressible (autocovariance windows),
      // so this slice of m08 gets a hash-checked oracle; the p-value
      // (chi-squared CDF) stays on the rows-only m08 query
      graft.models.ModelOps.ljungBoxAll(obs(s, dir), lags = 10,
        key = "user_id", ts = "ts_us", value = "value").toDF()
        .select(col("key").cast("long").as("user_id"),
          round(col("statistic"), 6).as("lb_stat"))).oracle(
      """WITH b AS (
           SELECT user_id, value, epoch_us(ts) AS ts_us,
             avg(value) OVER (PARTITION BY user_id) AS mu,
             count(*) OVER (PARTITION BY user_id) AS n
           FROM events
         ), l AS (
           SELECT user_id, n, value - mu AS e,
             lag(value - mu, 1) OVER w AS e1, lag(value - mu, 2) OVER w AS e2,
             lag(value - mu, 3) OVER w AS e3, lag(value - mu, 4) OVER w AS e4,
             lag(value - mu, 5) OVER w AS e5, lag(value - mu, 6) OVER w AS e6,
             lag(value - mu, 7) OVER w AS e7, lag(value - mu, 8) OVER w AS e8,
             lag(value - mu, 9) OVER w AS e9, lag(value - mu, 10) OVER w AS e10
           FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
         ), agg AS (
           SELECT user_id, any_value(n) AS n, sum(e*e) AS c0,
             sum(e*e1) AS c1, sum(e*e2) AS c2, sum(e*e3) AS c3,
             sum(e*e4) AS c4, sum(e*e5) AS c5, sum(e*e6) AS c6,
             sum(e*e7) AS c7, sum(e*e8) AS c8, sum(e*e9) AS c9,
             sum(e*e10) AS c10
           FROM l GROUP BY user_id
         )
         SELECT user_id, round(n*(n+2) * (
           (c1/c0)*(c1/c0)/(n-1) + (c2/c0)*(c2/c0)/(n-2) +
           (c3/c0)*(c3/c0)/(n-3) + (c4/c0)*(c4/c0)/(n-4) +
           (c5/c0)*(c5/c0)/(n-5) + (c6/c0)*(c6/c0)/(n-6) +
           (c7/c0)*(c7/c0)/(n-7) + (c8/c0)*(c8/c0)/(n-8) +
           (c9/c0)*(c9/c0)/(n-9) + (c10/c0)*(c10/c0)/(n-10)), 6) AS lb_stat
         FROM agg"""),
    Query("m19_kpss_stat", (s, dir) =>
      // lags=0 KPSS: the long-run variance collapses to sse/n, making the
      // eta statistic pure cumsum algebra with an exact SQL oracle
      graft.models.ModelOps.kpssAll(obs(s, dir), regression = "c",
        key = "user_id", ts = "ts_us", value = "value", lags = 0).toDF()
        .select(col("key").cast("long").as("user_id"),
          round(col("statistic"), 6).as("kpss_stat"))).oracle(
      """WITH b AS (
           SELECT user_id, value, epoch_us(ts) AS ts_us,
             avg(value) OVER (PARTITION BY user_id) AS mu
           FROM events
         ), c AS (
           SELECT user_id, value - mu AS e,
             sum(value - mu) OVER (PARTITION BY user_id ORDER BY ts_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
           FROM b
         ), a AS (
           SELECT user_id, sum(e*e) AS sse, sum(s*s) AS ss, count(*) AS n
           FROM c GROUP BY user_id
         )
         SELECT user_id, round(ss / (n * sse), 6) AS kpss_stat FROM a"""),
    Query("m20_adf_stat", (s, dir) =>
      // maxLag=0 Dickey-Fuller: a bivariate OLS whose t-ratio the oracle
      // reproduces with regr_* aggregates
      graft.models.ModelOps.adfAll(obs(s, dir), regression = "c",
        key = "user_id", ts = "ts_us", value = "value", maxLag = 0).toDF()
        .select(col("key").cast("long").as("user_id"),
          round(col("statistic"), 6).as("df_stat"))).oracle(
      """WITH p AS (
           SELECT user_id, value AS yprev,
             lead(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts))
               - value AS dy
           FROM events
         ), a AS (
           SELECT user_id,
             regr_slope(dy, yprev) AS beta, regr_r2(dy, yprev) AS r2,
             regr_syy(dy, yprev) AS syy, regr_sxx(dy, yprev) AS sxx,
             regr_count(dy, yprev) AS cnt
           FROM p WHERE dy IS NOT NULL GROUP BY user_id
         )
         SELECT user_id,
           round(beta / sqrt(((1 - r2) * syy / (cnt - 2)) / sxx), 6) AS df_stat
         FROM a"""),
    Query("m21_theilsen", (s, dir) =>
      // robust Theil-Sen slope/intercept per user series. 1e-9 grid
      // quantization makes the medians integer-exact (engines' interpolation
      // formulas differ in the last ulp on raw doubles, which at sf0.1
      // reliably lands a few of 1500 rows on any rounding boundary)
      graft.stats.RobustRegression.theilSen(obs(s, dir),
        key = "user_id", ts = "ts_us", value = "value", gridScale = Some(1e9))
        .select(col("user_id"), col("n"), round(col("slope"), 6).as("slope"),
          round(col("intercept"), 6).as("intercept"))).oracle(
      """WITH idx AS (SELECT user_id, value AS v,
             CAST(row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) - 1
               AS DOUBLE) AS i
           FROM events),
         pairs AS (SELECT a.user_id AS user_id,
             round((b.v - a.v) / (b.i - a.i) * 1e9, 0) AS s
           FROM idx a JOIN idx b ON a.user_id = b.user_id AND a.i < b.i),
         sl AS (SELECT user_id, quantile_cont(s, 0.5) / 1e9 AS slope
           FROM pairs GROUP BY user_id)
         SELECT idx.user_id, count(*) AS n, round(sl.slope, 6) AS slope,
           round(quantile_cont(round((idx.v - sl.slope * idx.i) * 1e9, 0), 0.5) / 1e9, 6)
             AS intercept
         FROM idx JOIN sl USING (user_id) GROUP BY idx.user_id, sl.slope"""),
    Query("m22_holt_smoothed", (s, dir) =>
      // fixed-parameter Holt linear smoothing: recurrence arithmetic mirrors
      // the recursive-CTE oracle term-for-term, compared unrounded
      graft.models.ModelOps.holtSmoothed(obs(s, dir), alpha = 0.5, beta = 0.3,
        key = "user_id", ts = "ts_us", value = "value").toDF()
        .select(col("key").cast("long").as("user_id"), col("ts").as("ts_us"),
          col("level"), col("trend"))).oracle(
      // the level/trend recursion repeats the level expression inside the
      // trend term exactly as the Scala kernel orders it — bit-exact unrounded
      """WITH RECURSIVE s AS (
           SELECT user_id, epoch_us(ts) AS ts_us, value,
             row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS rn
           FROM events
         ), r AS (
           SELECT user_id, ts_us, rn, value AS level, 0.0::DOUBLE AS trend
           FROM s WHERE rn = 1
           UNION ALL
           SELECT s.user_id, s.ts_us, s.rn,
             0.5::DOUBLE * s.value + (1 - 0.5::DOUBLE) * (r.level + r.trend),
             0.3::DOUBLE * ((0.5::DOUBLE * s.value
                 + (1 - 0.5::DOUBLE) * (r.level + r.trend)) - r.level)
               + (1 - 0.3::DOUBLE) * r.trend
           FROM s JOIN r ON s.user_id = r.user_id AND s.rn = r.rn + 1
         )
         SELECT user_id, ts_us, level, trend FROM r"""),
    Query("m23_pacf", (s, dir) =>
      // partial autocorrelation at lags 1-3 (Durbin-Levinson on the sample
      // ACF); the oracle unrolls the identical recursion in SQL
      TS.pacf(obs(s, dir), 3, key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), round(col("pacf_1"), 6).as("pacf_1"),
          round(col("pacf_2"), 6).as("pacf_2"),
          round(col("pacf_3"), 6).as("pacf_3"))).oracle(
      """WITH b AS (
           SELECT user_id, value, epoch_us(ts) AS ts_us,
             avg(value) OVER (PARTITION BY user_id) AS mu
           FROM events
         ), l AS (
           SELECT user_id, value - mu AS e,
             lag(value - mu, 1) OVER w AS e1,
             lag(value - mu, 2) OVER w AS e2,
             lag(value - mu, 3) OVER w AS e3
           FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
         ), a AS (
           SELECT user_id, sum(e*e) AS c0, sum(e*e1) AS c1,
             sum(e*e2) AS c2, sum(e*e3) AS c3
           FROM l GROUP BY user_id
         ), r AS (
           SELECT user_id, c1/c0 AS r1, c2/c0 AS r2, c3/c0 AS r3 FROM a
         ), p AS (
           SELECT user_id, r1, r2, r3,
             (r2 - r1*r1)/(1 - r1*r1) AS p2
           FROM r
         ), q AS (
           SELECT user_id, r1, r2, r3, p2, r1 - p2*r1 AS phi21 FROM p
         )
         SELECT user_id, round(r1, 6) AS pacf_1, round(p2, 6) AS pacf_2,
           round((r3 - phi21*r2 - p2*r1)/(1 - phi21*r1 - p2*r2), 6) AS pacf_3
         FROM q"""),
    Query("m24_coint_eg", (s, dir) =>
      // Engle-Granger: is each user's daily series cointegrated with the
      // cross-sectional daily mean ("market")? Residual DF t-ratio.
      TS.cointegrationEG(dailyWithMarket(s, dir), key = "user_id",
        ts = "day_us", y = "value", x = "mkt")
        .select(col("user_id"), col("n_obs"),
          round(col("eg_stat"), 6).as("eg_stat"))).oracle(
      """WITH daily AS (
           SELECT user_id, epoch_us(date_trunc('day', ts)) AS day_us,
             avg(value) AS y
           FROM events GROUP BY 1, 2
         ), market AS (SELECT day_us, avg(y) AS x FROM daily GROUP BY 1),
         j AS (SELECT user_id, day_us, y, x FROM daily JOIN market USING (day_us)),
         coef AS (
           SELECT user_id, regr_slope(y, x) AS b, regr_intercept(y, x) AS a
           FROM j GROUP BY user_id
         ), e AS (
           SELECT j.user_id, j.day_us, j.y - c.a - c.b * j.x AS e
           FROM j JOIN coef c ON j.user_id = c.user_id
         ), l AS (
           SELECT user_id, e,
             lag(e) OVER (PARTITION BY user_id ORDER BY day_us) AS e1
           FROM e
         ), d2 AS (SELECT user_id, e - e1 AS de, e1 FROM l WHERE e1 IS NOT NULL),
         a AS (
           SELECT user_id, count(*) AS n,
             regr_slope(de, e1) AS phi, regr_r2(de, e1) AS r2,
             regr_syy(de, e1) AS syy, regr_sxx(de, e1) AS sxx
           FROM d2 GROUP BY user_id
         )
         SELECT user_id, n AS n_obs,
           round(phi / sqrt(((1 - r2) * syy / (n - 2)) / sxx), 6) AS eg_stat
         FROM a"""),
    Query("m25_granger", (s, dir) =>
      // single-lag Granger F: does yesterday's market improve the AR(1)
      // prediction of each user's daily mean?
      TS.grangerF(dailyWithMarket(s, dir), key = "user_id",
        ts = "day_us", y = "value", x = "mkt")
        .select(col("user_id"), col("n_obs"),
          round(col("granger_f"), 6).as("granger_f"))).oracle(
      """WITH daily AS (
           SELECT user_id, epoch_us(date_trunc('day', ts)) AS day_us,
             avg(value) AS y
           FROM events GROUP BY 1, 2
         ), market AS (SELECT day_us, avg(y) AS x FROM daily GROUP BY 1),
         j AS (SELECT user_id, day_us, y, x FROM daily JOIN market USING (day_us)),
         l AS (
           SELECT user_id, y, lag(y) OVER w AS u, lag(x) OVER w AS v
           FROM j WINDOW w AS (PARTITION BY user_id ORDER BY day_us)
         ), d2 AS (
           SELECT user_id, y, u, v FROM l
           WHERE u IS NOT NULL AND v IS NOT NULL
         ), a AS (
           SELECT user_id, count(*) AS n,
             covar_pop(u, y)*count(*) AS suy, covar_pop(v, y)*count(*) AS svy,
             covar_pop(u, v)*count(*) AS suv, var_pop(u)*count(*) AS suu,
             var_pop(v)*count(*) AS svv, var_pop(y)*count(*) AS syy
           FROM d2 GROUP BY user_id
         ), f AS (
           SELECT user_id, n,
             syy - ((suy*svv - svy*suv)/(suu*svv - suv*suv))*suy
                 - ((svy*suu - suy*suv)/(suu*svv - suv*suv))*svy AS sse_u,
             syy - suy*suy/suu AS sse_r
           FROM a
         )
         SELECT user_id, n AS n_obs,
           round((sse_r - sse_u)/(sse_u/(n - 3)), 6) AS granger_f
         FROM f"""),
    Query("m26_mann_kendall", (s, dir) =>
      // Mann-Kendall monotone-trend test per user: S and Var(S) are
      // integer-exact, tau/z one deterministic division each
      graft.models.ModelOps.mannKendallAll(obs(s, dir),
        key = "user_id", ts = "ts_us", value = "value").toDF()
        .select(col("key").cast("long").as("user_id"), col("s"),
          col("nPairs").as("n_pairs"), round(col("tau"), 6).as("tau"),
          col("varS").as("var_s"), round(col("z"), 6).as("z"))).oracle(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
                    WHERE value IS NOT NULL),
         pr AS (SELECT a.user_id,
             CASE WHEN b.value > a.value THEN 1
                  WHEN b.value < a.value THEN -1 ELSE 0 END AS sgn
           FROM e a JOIN e b
             ON a.user_id = b.user_id AND b.ts_us > a.ts_us),
         s AS (SELECT user_id, sum(sgn)::BIGINT AS s, count(*)::BIGINT AS n_pairs
           FROM pr GROUP BY user_id),
         n AS (SELECT user_id, count(*)::BIGINT AS n FROM e GROUP BY user_id),
         t AS (SELECT user_id,
             coalesce(sum(CASE WHEN c > 1 THEN c*(c-1)*(2*c+5) ELSE 0 END), 0)
               AS tie_term
           FROM (SELECT user_id, value, count(*)::BIGINT AS c
                 FROM e GROUP BY 1, 2) GROUP BY user_id),
         v AS (SELECT n.user_id, s.s, s.n_pairs,
             (n.n*(n.n-1)*(2*n.n+5) - t.tie_term) / 18.0 AS var_s
           FROM n JOIN s USING (user_id) JOIN t USING (user_id))
         SELECT user_id, s, n_pairs, round(s::DOUBLE / n_pairs, 6) AS tau, var_s,
           round(CASE WHEN var_s <= 0 THEN 0.0
                      WHEN s > 0 THEN (s - 1) / sqrt(var_s)
                      WHEN s < 0 THEN (s + 1) / sqrt(var_s)
                      ELSE 0.0 END, 6) AS z
         FROM v"""),
    Query("m27_ks_drift", (s, dir) =>
      // first-half vs second-half two-sample KS per user; D's numerator is
      // integer-exact, the division deterministic — compared unrounded
      TS.ksDrift(obs(s, dir), key = "user_id", ts = "ts_us", value = "value")).oracle(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
                    WHERE value IS NOT NULL),
         r AS (SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts_us) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
           FROM e),
         h AS (SELECT user_id, value, rn, n, n // 2 AS n1,
             CASE WHEN rn <= n // 2 THEN 1 ELSE 0 END AS h1
           FROM r),
         c AS (SELECT user_id, n, n1,
             sum(h1) OVER w AS c1, sum(1 - h1) OVER w AS c2
           FROM h WINDOW w AS (PARTITION BY user_id ORDER BY value
                               RANGE BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW))
         SELECT user_id, max(n1)::BIGINT AS n_first,
           (max(n) - max(n1))::BIGINT AS n_second,
           max(abs(c1*(n - n1) - c2*n1))::BIGINT AS d_num,
           max(abs(c1*(n - n1) - c2*n1))::DOUBLE
             / (max(n1) * (max(n) - max(n1)))::DOUBLE AS ks_d
         FROM c GROUP BY user_id"""),
    Query("m28_ou_fit", (s, dir) =>
      // closed-form Ornstein-Uhlenbeck (AR(1) discretization) per user
      TS.ouFit(obs(s, dir), key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), col("n_pairs"),
          round(col("kappa"), 6).as("kappa"),
          round(col("theta"), 6).as("theta"),
          round(col("sigma"), 6).as("sigma"))).oracle(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
                    WHERE value IS NOT NULL),
         p AS (SELECT user_id, value,
             lag(value) OVER (PARTITION BY user_id ORDER BY ts_us) AS prev
           FROM e),
         a AS (SELECT user_id, count(*) AS n_pairs,
             covar_samp(prev, value) AS sxy, var_samp(prev) AS sxx,
             var_samp(value) AS syy, avg(value) AS my, avg(prev) AS mx
           FROM p WHERE prev IS NOT NULL GROUP BY user_id),
         f AS (SELECT user_id, n_pairs, sxy / sxx AS b,
             my - (sxy / sxx) * mx AS a2,
             ((syy - sxy*sxy/sxx) * (n_pairs - 1)) / (n_pairs - 2) AS se2
           FROM a)
         SELECT user_id, n_pairs,
           round(CASE WHEN b > 0 AND b < 1 THEN -ln(b) END, 6) AS kappa,
           round(CASE WHEN b > 0 AND b < 1 THEN a2 / (1 - b) END, 6) AS theta,
           round(CASE WHEN b > 0 AND b < 1 AND se2 >= 0
                 THEN sqrt(se2 * (-2 * ln(b)) / (1 - b*b)) END, 6) AS sigma
         FROM f"""),
    Query("m30_baseline_accuracy", (s, dir) => {
      // forecast-evaluation harness on the seasonal-naive (lag-7) baseline
      // over each user's daily series: MAE/RMSE/MAPE + Hyndman-Koehler MASE
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("day_us"))
      val withPred = dailyWithMarket(s, dir)
        .select(col("user_id"), col("day_us"), col("value"))
        .withColumn("predicted", lag(col("value"), 7).over(w))
      TS.forecastAccuracy(withPred, key = "user_id", ts = "day_us",
        actual = "value", predicted = "predicted")
        .select(col("user_id"), col("n_obs"), round(col("mae"), 6).as("mae"),
          round(col("rmse"), 6).as("rmse"), round(col("mape"), 6).as("mape"),
          col("n_mape"), round(col("mase"), 6).as("mase"))
    }).oracle(
      """WITH daily AS (
           SELECT user_id, epoch_us(date_trunc('day', ts)) AS day_us,
             avg(value) AS v
           FROM events GROUP BY 1, 2),
         p AS (
           SELECT user_id, day_us, v,
             lag(v, 7) OVER (PARTITION BY user_id ORDER BY day_us) AS pred
           FROM daily),
         f AS (SELECT * FROM p WHERE pred IS NOT NULL AND v IS NOT NULL),
         n AS (
           SELECT *, abs(v - lag(v) OVER (PARTITION BY user_id
             ORDER BY day_us)) AS ne
           FROM f)
         SELECT user_id, count(*) AS n_obs,
           round(avg(abs(v - pred)), 6) AS mae,
           round(sqrt(avg((v - pred) * (v - pred))), 6) AS rmse,
           round(avg(CASE WHEN v <> 0 THEN abs(v - pred) / abs(v) END), 6)
             AS mape,
           count(CASE WHEN v <> 0 THEN 1 END) AS n_mape,
           round(avg(abs(v - pred)) / avg(ne), 6) AS mase
         FROM n GROUP BY user_id"""),
    Query("m31_var_fit", (s, dir) =>
      // bivariate VAR(1) of (user daily series, market): closed-form 2x2
      // normal equations from one keyed covariance aggregate
      TS.varFit(dailyWithMarket(s, dir), key = "user_id", ts = "day_us",
        x = "value", y = "mkt")
        .select(col("user_id"), col("n_pairs"),
          round(col("a11"), 6).as("a11"), round(col("a12"), 6).as("a12"),
          round(col("c1"), 6).as("c1"),
          round(col("a21"), 6).as("a21"), round(col("a22"), 6).as("a22"),
          round(col("c2"), 6).as("c2"))).oracle(
      """WITH daily AS (
           SELECT user_id, epoch_us(date_trunc('day', ts)) AS day_us,
             avg(value) AS v
           FROM events GROUP BY 1, 2),
         market AS (SELECT day_us, avg(v) AS m FROM daily GROUP BY 1),
         j AS (SELECT d.user_id, d.day_us, d.v, market.m
               FROM daily d JOIN market USING (day_us)),
         p AS (
           SELECT user_id, v, m,
             lag(v) OVER (PARTITION BY user_id ORDER BY day_us) AS xl,
             lag(m) OVER (PARTITION BY user_id ORDER BY day_us) AS yl
           FROM j),
         a AS (
           SELECT user_id, count(*) AS n_pairs,
             var_samp(xl) AS sxx, var_samp(yl) AS syy,
             covar_samp(xl, yl) AS sxy,
             covar_samp(xl, v) AS sx_tx, covar_samp(yl, v) AS sy_tx,
             covar_samp(xl, m) AS sx_ty, covar_samp(yl, m) AS sy_ty,
             avg(v) AS mx, avg(m) AS my, avg(xl) AS mxl, avg(yl) AS myl
           FROM p WHERE xl IS NOT NULL AND yl IS NOT NULL
           GROUP BY user_id),
         f AS (
           SELECT *, sxx * syy - sxy * sxy AS det FROM a),
         g AS (
           SELECT user_id, n_pairs,
             CASE WHEN det > 0 THEN (syy * sx_tx - sxy * sy_tx) / det END AS a11,
             CASE WHEN det > 0 THEN (sxx * sy_tx - sxy * sx_tx) / det END AS a12,
             CASE WHEN det > 0 THEN (syy * sx_ty - sxy * sy_ty) / det END AS a21,
             CASE WHEN det > 0 THEN (sxx * sy_ty - sxy * sx_ty) / det END AS a22,
             mx, my, mxl, myl
           FROM f)
         SELECT user_id, n_pairs,
           round(a11, 6) AS a11, round(a12, 6) AS a12,
           round(mx - a11 * mxl - a12 * myl, 6) AS c1,
           round(a21, 6) AS a21, round(a22, 6) AS a22,
           round(my - a21 * mxl - a22 * myl, 6) AS c2
         FROM g"""),
    Query("m32_varp_fit", (s, dir) =>
      // trivariate VAR(2) per user over (daily avg value, daily event
      // count, market avg): equation-wise OLS in one groupByKey kernel —
      // streamed Gram matrix + local pivoted solve, no matrix library.
      // The DuckDB oracle replays the 7-regressor solve exactly via
      // Gram-Schmidt orthogonalization + back-substitution (scalar window
      // aggregates only); mr14 additionally certifies planted recovery
      graft.models.VectorAR.varpFit(dailyTriple(s, dir), 2,
        Seq("v", "cnt", "mkt"), key = "user_id", ts = "day_us")
        // 5 dp (not the usual 6): the oracle replays the solve by a
        // different algebra (centered Gram-Schmidt vs uncentered pivoted
        // Gauss), which agrees to ~1e-7 relative — 6 dp leaves knife-edges
        .select(col("key").cast("long").as("user_id"), col("eq"), col("term"),
          col("lag").cast("long").as("lag"), round(col("coef"), 5).as("coef"))).oracle(
      // VAR(2) equation-wise OLS replayed exactly: Gram-Schmidt the 6 lagged
      // regressors into an orthogonal basis u1..u6 (sequential window
      // projections), coefficients in the u-basis (gamma = sum(u*y)/sum(u*u)),
      // then back-substitute through the unit-triangular change of basis
      // (beta_s = gamma_s - sum_{t>s} R'_st beta_t, R'_st = sum(u_s c_t)/s_s).
      // Algebraically identical to the normal-equation solve; every step is a
      // scalar window/group aggregate DuckDB can run.
      // VAR(2) equation-wise OLS replayed exactly: Gram-Schmidt the 6 lagged
      // regressors into an orthogonal basis u1..u6 (sequential window
      // projections), coefficients in the u-basis (gamma = sum(u*y)/sum(u*u)),
      // then back-substitute through the unit-triangular change of basis
      // (beta_s = gamma_s - sum_{t>s} R'_st beta_t, R'_st = sum(u_s c_t)/s_s).
      // Algebraically identical to the normal-equation solve; every step is a
      // scalar window/group aggregate DuckDB can run. 5 dp + a -0.0
      // normalization: the two algebras agree to ~1e-7 relative.
      (s"""WITH $varpSolveCtes,
         u AS (
           SELECT user_id,
             unnest(['v','v','v','v','v','v','v',
                     'cnt','cnt','cnt','cnt','cnt','cnt','cnt',
                     'mkt','mkt','mkt','mkt','mkt','mkt','mkt']) AS eq,
             unnest(['c','v','cnt','mkt','v','cnt','mkt',
                     'c','v','cnt','mkt','v','cnt','mkt',
                     'c','v','cnt','mkt','v','cnt','mkt']) AS term,
             unnest([0,1,1,1,2,2,2, 0,1,1,1,2,2,2, 0,1,1,1,2,2,2]) AS lag,
             unnest([b0_1,b1_1,b2_1,b3_1,b4_1,b5_1,b6_1,
                     b0_2,b1_2,b2_2,b3_2,b4_2,b5_2,b6_2,
                     b0_3,b1_3,b2_3,b3_3,b4_3,b5_3,b6_3]) AS coef
           FROM t0)
         SELECT user_id, eq, term, lag::BIGINT AS lag,
           round(coef, 5) + 0.0 AS coef FROM u""")),
    Query("m33_varp_forecast", (s, dir) =>
      // 5-step iterated VAR(2) point forecast from the m32 fit (forecasts
      // fed back in; future ts extrapolates the median observed step)
      graft.models.VectorAR.varpForecast(dailyTriple(s, dir), 2, 5,
        Seq("v", "cnt", "mkt"), key = "user_id", ts = "day_us")
        .select(col("key").cast("long").as("user_id"),
          col("step").cast("long").as("step"), col("ts").as("day_us"),
          // 5 dp like m32: the oracle replays the solve by different algebra
          col("eq"), round(col("value"), 5).as("value"))).oracle(
      // m33: unroll the 5-step iterated forecast from the same t0
      // coefficients — each step is scalar algebra on the previous two
      // (forecast) states; ts extrapolates the upper-median observed step
      // exactly as varpForecast's medianStep does
      (s"""WITH $varpSolveCtes,
         hist AS (
           SELECT user_id, day_us, v, cnt, mkt,
             row_number() OVER (PARTITION BY user_id ORDER BY day_us DESC) AS rn
           FROM triple),
         last2 AS (
           SELECT user_id,
             max(CASE WHEN rn = 1 THEN day_us END) AS tlast,
             max(CASE WHEN rn = 1 THEN v END) AS p1_v,
             max(CASE WHEN rn = 1 THEN cnt END) AS p1_cnt,
             max(CASE WHEN rn = 1 THEN mkt END) AS p1_mkt,
             max(CASE WHEN rn = 2 THEN v END) AS p2_v,
             max(CASE WHEN rn = 2 THEN cnt END) AS p2_cnt,
             max(CASE WHEN rn = 2 THEN mkt END) AS p2_mkt
           FROM hist WHERE rn <= 2 GROUP BY user_id),
         med AS (
           SELECT user_id,
             CASE WHEN len(sts) > 0 THEN sts[len(sts) // 2 + 1]
                  ELSE 1 END AS step_us
           FROM (
             SELECT user_id, list(st ORDER BY st) AS sts
             FROM (SELECT user_id, day_us - lag(day_us) OVER
                     (PARTITION BY user_id ORDER BY day_us) AS st
                   FROM triple)
             WHERE st IS NOT NULL GROUP BY user_id)),
         f1 AS (
           SELECT t0.*, l.* EXCLUDE (user_id), m.step_us,
             b0_1 + b1_1*p1_v + b2_1*p1_cnt + b3_1*p1_mkt
                  + b4_1*p2_v + b5_1*p2_cnt + b6_1*p2_mkt AS f1_v,
             b0_2 + b1_2*p1_v + b2_2*p1_cnt + b3_2*p1_mkt
                  + b4_2*p2_v + b5_2*p2_cnt + b6_2*p2_mkt AS f1_cnt,
             b0_3 + b1_3*p1_v + b2_3*p1_cnt + b3_3*p1_mkt
                  + b4_3*p2_v + b5_3*p2_cnt + b6_3*p2_mkt AS f1_mkt
           FROM t0 JOIN last2 l USING (user_id) JOIN med m USING (user_id)),
         f2 AS (SELECT *,
             b0_1 + b1_1*f1_v + b2_1*f1_cnt + b3_1*f1_mkt
                  + b4_1*p1_v + b5_1*p1_cnt + b6_1*p1_mkt AS f2_v,
             b0_2 + b1_2*f1_v + b2_2*f1_cnt + b3_2*f1_mkt
                  + b4_2*p1_v + b5_2*p1_cnt + b6_2*p1_mkt AS f2_cnt,
             b0_3 + b1_3*f1_v + b2_3*f1_cnt + b3_3*f1_mkt
                  + b4_3*p1_v + b5_3*p1_cnt + b6_3*p1_mkt AS f2_mkt
           FROM f1),
         f3 AS (SELECT *,
             b0_1 + b1_1*f2_v + b2_1*f2_cnt + b3_1*f2_mkt
                  + b4_1*f1_v + b5_1*f1_cnt + b6_1*f1_mkt AS f3_v,
             b0_2 + b1_2*f2_v + b2_2*f2_cnt + b3_2*f2_mkt
                  + b4_2*f1_v + b5_2*f1_cnt + b6_2*f1_mkt AS f3_cnt,
             b0_3 + b1_3*f2_v + b2_3*f2_cnt + b3_3*f2_mkt
                  + b4_3*f1_v + b5_3*f1_cnt + b6_3*f1_mkt AS f3_mkt
           FROM f2),
         f4 AS (SELECT *,
             b0_1 + b1_1*f3_v + b2_1*f3_cnt + b3_1*f3_mkt
                  + b4_1*f2_v + b5_1*f2_cnt + b6_1*f2_mkt AS f4_v,
             b0_2 + b1_2*f3_v + b2_2*f3_cnt + b3_2*f3_mkt
                  + b4_2*f2_v + b5_2*f2_cnt + b6_2*f2_mkt AS f4_cnt,
             b0_3 + b1_3*f3_v + b2_3*f3_cnt + b3_3*f3_mkt
                  + b4_3*f2_v + b5_3*f2_cnt + b6_3*f2_mkt AS f4_mkt
           FROM f3),
         f5 AS (SELECT *,
             b0_1 + b1_1*f4_v + b2_1*f4_cnt + b3_1*f4_mkt
                  + b4_1*f3_v + b5_1*f3_cnt + b6_1*f3_mkt AS f5_v,
             b0_2 + b1_2*f4_v + b2_2*f4_cnt + b3_2*f4_mkt
                  + b4_2*f3_v + b5_2*f3_cnt + b6_2*f3_mkt AS f5_cnt,
             b0_3 + b1_3*f4_v + b2_3*f4_cnt + b3_3*f4_mkt
                  + b4_3*f3_v + b5_3*f3_cnt + b6_3*f3_mkt AS f5_mkt
           FROM f4),
         uf AS (
           SELECT user_id,
             unnest([1,1,1, 2,2,2, 3,3,3, 4,4,4, 5,5,5]) AS step,
             unnest(['v','cnt','mkt','v','cnt','mkt','v','cnt','mkt',
                     'v','cnt','mkt','v','cnt','mkt']) AS eq,
             unnest([f1_v,f1_cnt,f1_mkt, f2_v,f2_cnt,f2_mkt,
                     f3_v,f3_cnt,f3_mkt, f4_v,f4_cnt,f4_mkt,
                     f5_v,f5_cnt,f5_mkt]) AS value,
             tlast, step_us
           FROM f5)
         SELECT user_id, step::BIGINT AS step,
           (tlast + step_us * step)::BIGINT AS day_us, eq,
           round(value, 5) + 0.0 AS value FROM uf""")),
    Query("m34_granger_varp", (s, dir) =>
      // lag-2 Granger F (market -> user series) via restricted/unrestricted
      // OLS in the VectorAR kernel; the p=1 slice of this operator is
      // certified against the closed-form m25 statistic in mr15
      graft.models.VectorAR.grangerLagP(dailyWithMarket(s, dir), 2,
        key = "user_id", ts = "day_us", y = "value", x = "mkt")
        .select(col("key").cast("long").as("user_id"), col("n_obs"),
          // 5 dp like m32: the oracle replays both solves via olsCtes
          col("df1"), col("df2"), round(col("f_stat"), 5).as("f_stat"))).oracle(grangerOracle),
    Query("m35_varp_order", (s, dir) =>
      // information-criterion order selection over the m32 trivariate
      // system, p = 1..3 scored on one streamed pass (pmax Gram nests all
      // smaller orders as leading sub-blocks); the DuckDB oracle replays
      // every per-order solve via generated Gram-Schmidt CTEs (olsCtes)
      // and the closed-form 3x3 determinant; mr16 additionally certifies
      // the planted order is selected on simulated VAR(2) systems
      graft.models.VectorAR.varpOrderSelect(dailyTriple(s, dir), 3,
        Seq("v", "cnt", "mkt"), key = "user_id", ts = "day_us")
        // 5 dp like m32: the oracle replays each order's solve via the
        // generated Gram-Schmidt chain (different algebra, ~1e-7 agreement)
        .select(col("key").cast("long").as("user_id"),
          col("p").cast("long").as("p"), col("n_obs"),
          round(col("log_det_sigma"), 5).as("log_det_sigma"),
          round(col("aic"), 5).as("aic"), round(col("bic"), 5).as("bic"),
          round(col("hqic"), 5).as("hqic"))).oracle(varpOrderOracle),
    Query("m36_varp_irf", (s, dir) =>
      // impulse responses (plain + Cholesky-orthogonalized) of the m32
      // trivariate VAR(2), horizons 0..4; Φ recursion + Θ = Φ·chol(Σ̂) in
      // the same streamed-Gram kernel; the oracle replays Σ̂, the
      // closed-form Cholesky and the unrolled Φ/Θ recursion exactly
      graft.models.VectorAR.varpIrf(dailyTriple(s, dir), 2, 4,
        Seq("v", "cnt", "mkt"), key = "user_id", ts = "day_us")
        .select(col("key").cast("long").as("user_id"),
          col("step").cast("long").as("step"), col("impulse"), col("response"),
          // 5 dp like m32: the oracle replays via generated scalar CTEs
          round(col("irf"), 5).as("irf"),
          round(col("irf_orth"), 5).as("irf_orth"))).oracle(varpIrfOracle),
    Query("m37_varp_fevd", (s, dir) =>
      // 5-step forecast-error variance decomposition of the same system;
      // shares sum to 1 per (user, variable) — asserted by mr17
      graft.models.VectorAR.varpFevd(dailyTriple(s, dir), 2, 5,
        Seq("v", "cnt", "mkt"), key = "user_id", ts = "day_us")
        .select(col("key").cast("long").as("user_id"), col("variable"),
          col("shock"), col("h").cast("long").as("h"),
          round(col("fevd"), 5).as("fevd"))).oracle(varpFevdOracle),
    Query("m38_varp_intervals", (s, dir) =>
      // 5-step VAR(2) forecast with 95% normal-theory prediction bands
      // (MSE(h) = sum of phi Sigma phi' from the same streamed fit);
      // point values identical to m33 by construction — asserted in mr17
      graft.models.VectorAR.varpForecastIntervals(dailyTriple(s, dir), 2, 5,
        Seq("v", "cnt", "mkt"), key = "user_id", ts = "day_us")
        .select(col("key").cast("long").as("user_id"),
          col("step").cast("long").as("step"), col("ts").as("day_us"),
          col("eq"), round(col("value"), 5).as("value"),
          round(col("se"), 5).as("se"), round(col("lo"), 5).as("lo"),
          round(col("hi"), 5).as("hi"))).oracle(varpIntervalsOracle),
    Query("m39_bg_stat", (s, dir) =>
      // Breusch-Godfrey n·R² statistic twin of m14 (lags=2 on y ~ 1+t):
      // the oracle replays the aux regression with Frisch-Waugh-Lovell —
      // partial [1,t] out of the lagged residuals, then a closed-form 2×2
      // no-intercept OLS, algebraically identical to the 4-regressor fit
      graft.models.ModelOps.breuschGodfreyAll(obs(s, dir), lags = 2,
        key = "user_id", ts = "ts_us", value = "value").toDF()
        .select(col("key").cast("long").as("user_id"),
          round(col("statistic"), 6).as("bg_stat"))).oracle(
      """WITH b AS (
           SELECT user_id, value,
             (row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) - 1)::DOUBLE AS t
           FROM events
         ), fit AS (
           SELECT user_id, regr_slope(value, t) AS sl, regr_intercept(value, t) AS ic
           FROM b GROUP BY user_id
         ), e AS (
           SELECT b.user_id, b.t, b.value - fit.ic - fit.sl * b.t AS e
           FROM b JOIN fit USING (user_id)
         ), lagd AS (
           SELECT user_id, t, e,
             coalesce(lag(e, 1) OVER w, 0.0) AS e1,
             coalesce(lag(e, 2) OVER w, 0.0) AS e2
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)
         ), part AS (
           SELECT user_id, regr_slope(e1, t) AS sl1, regr_intercept(e1, t) AS ic1,
                  regr_slope(e2, t) AS sl2, regr_intercept(e2, t) AS ic2
           FROM lagd GROUP BY user_id
         ), tilde AS (
           SELECT l.user_id, l.e,
             l.e1 - p.ic1 - p.sl1 * l.t AS f1,
             l.e2 - p.ic2 - p.sl2 * l.t AS f2
           FROM lagd l JOIN part p USING (user_id)
         ), s AS (
           SELECT user_id, count(*) AS n, avg(e) AS me,
             sum(f1*f1) AS s11, sum(f2*f2) AS s22, sum(f1*f2) AS s12,
             sum(f1*e) AS c1, sum(f2*e) AS c2,
             sum(e*e) AS see
           FROM tilde GROUP BY user_id
         )
         SELECT user_id, round(n * (
             ((c1*s22 - c2*s12)*c1 + (s11*c2 - s12*c1)*c2)
               / (s11*s22 - s12*s12)
           ) / (see - n*me*me), 6) AS bg_stat
         FROM s"""),
    Query("m40_bp_stat", (s, dir) =>
      // Breusch-Pagan n·R² statistic twin of m15: squared trend residuals
      // regressed back on the trend — bivariate, so R² = regr_r2 exactly
      graft.models.ModelOps.breuschPaganAll(obs(s, dir),
        key = "user_id", ts = "ts_us", value = "value").toDF()
        .select(col("key").cast("long").as("user_id"),
          round(col("statistic"), 6).as("bp_stat"))).oracle(
      """WITH b AS (
           SELECT user_id, value,
             (row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) - 1)::DOUBLE AS t
           FROM events
         ), fit AS (
           SELECT user_id, regr_slope(value, t) AS sl, regr_intercept(value, t) AS ic
           FROM b GROUP BY user_id
         ), r AS (
           SELECT b.user_id, b.t,
             (b.value - fit.ic - fit.sl * b.t) * (b.value - fit.ic - fit.sl * b.t) AS sq
           FROM b JOIN fit USING (user_id)
         )
         SELECT user_id, round(count(*) * regr_r2(sq, t), 6) AS bp_stat
         FROM r GROUP BY user_id"""),
    Query("m41_egarch_fit", (s, dir) => {
      // EGARCH(1,1) on per-user return rates (leverage-asymmetric
      // volatility — the model the reference stubs, fully implemented
      // here); optimizer fit -> rows-only, mr20 certifies recovery +
      // the inverse pair hash-exactly. Bounded key set (same m10
      // convention): short noisy return series legitimately use the full
      // simplex eval budget, so the full-corpus fit is ~10x the m07
      // GARCH cost — 20 keys keep the capability smoke constant-cost
      val rets = TS.returnRates(obs(s, dir).filter(col("user_id") < 20),
        key = "user_id", ts = "ts_us", value = "value")
      graft.models.ModelOps.fitEgarch(rets,
        key = "user_id", ts = "ts_us", value = "value").toDF()
    }),
    Query("m42_adf_full", (s, dir) =>
      // lag-2 augmented Dickey-Fuller, FULLY certified: the t-statistic
      // replays via two generated OLS chains (coefficient by FWL, standard
      // error from the auxiliary regression's RSS) and the MacKinnon (1994)
      // response-surface p-value via the SQL-primitive erfc
      graft.models.ModelOps.adfAll(obs(s, dir), regression = "c",
        key = "user_id", ts = "ts_us", value = "value", maxLag = 2).toDF()
        .select(col("key").cast("long").as("user_id"),
          round(col("statistic"), 6).as("df_stat"),
          round(col("pValue"), 6).as("p_value"))).oracle(adfFullOracle),
    // m43-m53 + qc03: frozen-digest twins of the rows-only optimizer
    // fits (VERDICT r14 #1). Each twin re-runs the EXACT same query
    // function (looked up by name, so the twin can never drift from the
    // surface it certifies) and reduces the result to one
    // (md5-of-sorted-lines, n_pairs) row vs an sf0.01-frozen constant —
    // any future fit regression trips the driver hash, not just a
    // recovery property.
    Query("m43_arima_fit_digest", (s, dir) =>
      rowDigest(SparkEntry.queries("m01_arima_fit")(s, dir))).oracle(
      // m43-m53/qc03: sf0.01-frozen digests of the rows-only optimizer-fit
      // surfaces (regenerate by re-running the twin at sf0.01 after an
      // intentional kernel change; determinism re-verified run-to-run)
      """SELECT 'ab474a57f38ecf1f21ebfafd078fb11b' AS digest, 150::BIGINT AS n_pairs"""),
    Query("m44_ewma_fit_digest", (s, dir) =>
      rowDigest(SparkEntry.queries("m02_ewma_fit")(s, dir))).oracle(
      """SELECT 'bbd2512c96ff9bc5cb1c811a40d55e86' AS digest, 150::BIGINT AS n_pairs"""),
    Query("m45_arima_forecast_digest", (s, dir) =>
      rowDigest(SparkEntry.queries("m04_arima_forecast")(s, dir))).oracle(
      """SELECT 'af287a2e7ef77c12f4863a8dd3d611cb' AS digest, 750::BIGINT AS n_pairs"""),
    Query("m46_hw_fit_digest", (s, dir) =>
      rowDigest(SparkEntry.queries("m06_holtwinters_fit")(s, dir))).oracle(
      """SELECT '26331eae35290242167d2449237946ab' AS digest, 150::BIGINT AS n_pairs"""),
    Query("m47_garch_fit_digest", (s, dir) =>
      rowDigest(SparkEntry.queries("m07_garch_fit")(s, dir))).oracle(
      """SELECT 'd90a0915d3498cad5e9aa2c7d90c1193' AS digest, 150::BIGINT AS n_pairs"""),
    Query("m48_adf_digest", (s, dir) =>
      rowDigest(SparkEntry.queries("m09_adf")(s, dir))).oracle(
      """SELECT 'd8bce0cf1483dd049b7a26fdb2cea169' AS digest, 150::BIGINT AS n_pairs"""),
    Query("m49_autofit_digest", (s, dir) =>
      rowDigest(SparkEntry.queries("m10_arima_autofit")(s, dir))).oracle(
      """SELECT 'd0f0e4f7702ee36fbb804b8978cbf3a0' AS digest, 20::BIGINT AS n_pairs"""),
    Query("m50_arimax_digest", (s, dir) =>
      rowDigest(SparkEntry.queries("m12_arimax")(s, dir))).oracle(
      """SELECT '0494c16d045e78e08148a60c098269bd' AS digest, 150::BIGINT AS n_pairs"""),
    Query("m51_hw_forecast_digest", (s, dir) =>
      rowDigest(SparkEntry.queries("m16_hw_forecast")(s, dir))).oracle(
      """SELECT 'ec8c762b667a3e69aeb137b7b8a9f411' AS digest, 1050::BIGINT AS n_pairs"""),
    Query("m52_ewma_forecast_digest", (s, dir) =>
      rowDigest(SparkEntry.queries("m17_ewma_forecast")(s, dir))).oracle(
      """SELECT '4457f3f15bf5ad92a59a5f4b2d26b70c' AS digest, 750::BIGINT AS n_pairs"""),
    Query("m53_egarch_fit_digest", (s, dir) =>
      rowDigest(SparkEntry.queries("m41_egarch_fit")(s, dir))).oracle(
      """SELECT '61ac5ee87eda173339acd93eed7f854f' AS digest, 20::BIGINT AS n_pairs"""),
    Query("m54_arx_fit", (s, dir) =>
      // ARX(1, xLag=1, current x included): each user's daily mean on its
      // own lag and the market's current + lagged value — a 3-regressor
      // OLS the oracle replays by Cramer's rule on the centered 3x3
      // normal equations (reference models/AutoregressionX.scala:48-130)
      graft.models.ModelOps.fitArx(dailyWithMarket(s, dir), 1, 1,
        includeCurrentX = true, key = "user_id", ts = "day_us",
        y = "value", x = "mkt").toDF()
        .select(col("key"), (round(col("c"), 6) + lit(0.0)).as("c"),
          (round(try_element_at(col("arCoefs"), lit(1)), 6) + lit(0.0)).as("ar_1"),
          (round(try_element_at(col("xCoefs"), lit(1)), 6) + lit(0.0)).as("x_0"),
          (round(try_element_at(col("xCoefs"), lit(2)), 6) + lit(0.0)).as("x_1"))).oracle(
      // m54: 3-regressor OLS (y_{t-1}, x_t, x_{t-1}) replayed by Cramer's
      // rule on the centered 3x3 normal equations
      """WITH daily AS (
           SELECT user_id, epoch_us(date_trunc('day', ts)) AS day_us,
             avg(value) AS v
           FROM events GROUP BY 1, 2),
         market AS (SELECT day_us, avg(v) AS m FROM daily GROUP BY 1),
         j AS (SELECT d.user_id, d.day_us, d.v, market.m
               FROM daily d JOIN market USING (day_us)),
         p AS (
           SELECT user_id, v AS y, lag(v) OVER w AS r1, m AS r2,
             lag(m) OVER w AS r3
           FROM j WINDOW w AS (PARTITION BY user_id ORDER BY day_us)),
         a AS (
           SELECT user_id,
             var_samp(r1) AS s11, covar_samp(r1, r2) AS s12,
             covar_samp(r1, r3) AS s13, var_samp(r2) AS s22,
             covar_samp(r2, r3) AS s23, var_samp(r3) AS s33,
             covar_samp(r1, y) AS c1, covar_samp(r2, y) AS c2,
             covar_samp(r3, y) AS c3,
             avg(y) AS my, avg(r1) AS m1, avg(r2) AS m2, avg(r3) AS m3
           FROM p WHERE r1 IS NOT NULL GROUP BY user_id),
         dt AS (
           SELECT *,
             s11 * (s22 * s33 - s23 * s23) - s12 * (s12 * s33 - s23 * s13)
               + s13 * (s12 * s23 - s22 * s13) AS det
           FROM a),
         g AS (
           SELECT user_id,
             (c1 * (s22 * s33 - s23 * s23) - s12 * (c2 * s33 - s23 * c3)
               + s13 * (c2 * s23 - s22 * c3)) / det AS b1,
             (s11 * (c2 * s33 - s23 * c3) - c1 * (s12 * s33 - s23 * s13)
               + s13 * (s12 * c3 - c2 * s13)) / det AS b2,
             (s11 * (s22 * c3 - c2 * s23) - s12 * (s12 * c3 - c2 * s13)
               + c1 * (s12 * s23 - s22 * s13)) / det AS b3,
             my, m1, m2, m3
           FROM dt WHERE det > 0)
         SELECT user_id::VARCHAR AS key,
           round(my - b1 * m1 - b2 * m2 - b3 * m3, 6) + 0.0 AS c,
           round(b1, 6) + 0.0 AS ar_1, round(b2, 6) + 0.0 AS x_0,
           round(b3, 6) + 0.0 AS x_1
         FROM g"""),
    Query("m55_ar_filter", (s, dir) =>
      // TimeSeriesFilter trait surface: per-user AR(1) fit, then
      // removeTimeDependentEffects through the trait (first p entries pass
      // through unchanged) — the oracle replays the OLS via regr_slope/
      // regr_intercept and the residual recurrence in SQL
      graft.models.ModelOps.arFilterResiduals(obs(s, dir), 1,
        key = "user_id", ts = "ts_us", value = "value").toDF()
        .select(col("key"), col("ts").as("ts_us"),
          round(col("residual"), 6).as("residual"))
    ).oracle(
      """WITH p AS (
           SELECT user_id, epoch_us(ts) AS ts_us, value,
             lag(value) OVER w AS prev, row_number() OVER w AS rn
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))),
         f AS (
           SELECT user_id, regr_intercept(value, prev) AS c,
             regr_slope(value, prev) AS phi
           FROM p WHERE prev IS NOT NULL GROUP BY user_id)
         SELECT p.user_id::VARCHAR AS key, p.ts_us,
           round(CASE WHEN p.rn = 1 THEN p.value
                      ELSE p.value - f.c - f.phi * p.prev END, 6) AS residual
         FROM p JOIN f USING (user_id)"""),
    // Seeded simulate→fit→recover certification queries
    // (models/Recovery.scala): deterministic tolerance booleans vs literal
    // simulation truths; the oracle side is a constant VALUES SELECT, which
    // makes the §2.8/§2.9 fit kernels hash-checkable by the driver. Every
    // (key, check) pair is expected true.
    Query("mr01_arima_recover", (s, _) => graft.models.Recovery.arima(s))
      .oracle(graft.models.Recovery.oracleFor("arima")),
    Query("mr02_ar_recover", (s, _) => graft.models.Recovery.ar(s))
      .oracle(graft.models.Recovery.oracleFor("ar")),
    Query("mr03_ewma_recover", (s, _) => graft.models.Recovery.ewma(s))
      .oracle(graft.models.Recovery.oracleFor("ewma")),
    Query("mr04_hw_recover", (s, _) => graft.models.Recovery.holtWinters(s))
      .oracle(graft.models.Recovery.oracleFor("holtwinters")),
    Query("mr05_garch_recover", (s, _) => graft.models.Recovery.garch(s))
      .oracle(graft.models.Recovery.oracleFor("garch")),
    Query("mr06_forecast_recover", (s, _) => graft.models.Recovery.forecast(s))
      .oracle(graft.models.Recovery.oracleFor("forecast")),
    Query("mr07_autofit_recover", (s, _) => graft.models.Recovery.autofit(s))
      .oracle(graft.models.Recovery.oracleFor("autofit")),
    Query("mr08_cochrane_recover", (s, _) => graft.models.Recovery.cochraneOrcutt(s))
      .oracle(graft.models.Recovery.oracleFor("cochrane_orcutt")),
    Query("mr09_arimax_recover", (s, _) => graft.models.Recovery.arimax(s))
      .oracle(graft.models.Recovery.oracleFor("arimax")),
    Query("mr10_stationarity_decisions", (s, _) => graft.models.Recovery.stationarity(s))
      .oracle(graft.models.Recovery.oracleFor("stationarity")),
    Query("mr11_lm_test_decisions", (s, _) => graft.models.Recovery.lmTests(s))
      .oracle(graft.models.Recovery.oracleFor("lm_tests")),
    Query("mr12_spline_recover", (s, _) => graft.models.Recovery.spline(s))
      .oracle(graft.models.Recovery.oracleFor("spline")),
    Query("mr13_var_recover", (s, _) => graft.models.Recovery.varRecover(s))
      .oracle(graft.models.Recovery.oracleFor("var")),
    Query("mr14_varp_recover", (s, _) => graft.models.Recovery.varpRecover(s))
      .oracle(graft.models.Recovery.oracleFor("varp")),
    Query("mr15_granger_recover", (s, _) => graft.models.Recovery.grangerRecover(s))
      .oracle(graft.models.Recovery.oracleFor("granger")),
    Query("mr16_order_recover", (s, _) => graft.models.Recovery.orderRecover(s))
      .oracle(graft.models.Recovery.oracleFor("order")),
    Query("mr17_irf_recover", (s, _) => graft.models.Recovery.irfRecover(s))
      .oracle(graft.models.Recovery.oracleFor("irf")),
    Query("mr18_logit_recover", (s, _) => graft.models.Recovery.logitRecover(s))
      .oracle(graft.models.Recovery.oracleFor("logit")),
    Query("mr19_r_goldens", (s, _) => graft.models.Recovery.rGoldens(s))
      .oracle(graft.models.Recovery.oracleFor("rgolden")),
    Query("mr20_egarch_recover", (s, _) => graft.models.Recovery.egarch(s))
      .oracle(graft.models.Recovery.oracleFor("egarch")),
    // mr21: same R anchors as mr19, but the published constants themselves
    // flow to the driver (echoed engine-side, literal in the oracle SQL) —
    // shrinks the self-frozen trust surface (VERDICT r16 #2)
    Query("mr21_r_constants", (s, _) => graft.models.Recovery.rGoldenConstantsDf(s))
      .oracle(graft.models.Recovery.rGoldenConstantsOracle),
    Query("qc01_quality_logit", (s, dir) => {
      // model-based quality classifier (C4-style curated-vs-crawl
      // discriminator): Newton/IRLS logistic regression on the cheap
      // quality signals, one corpus pass per iteration, (k+1)^2 partials
      // combined on the driver in partition order (bit-deterministic);
      // the fit is not SQL-expressible -> rows-only; mr18 certifies
      // coefficient recovery + MLE calibration on planted data
      val feats = Seq("mean_token_len", "punct_ratio", "digit_ratio",
        "stopword_ratio")
      val base = graft.text.TextFunctions.qualitySignals(Tables.documents(s, dir))
        .withColumn("label",
          when(col("source").isin("src0", "src1", "src2"), 1.0).otherwise(0.0))
        .filter(feats.map(c => col(c).isNotNull).reduce(_ && _))
      val fit = graft.models.Logistic.logisticFit(base, "label", feats)
      graft.models.Logistic.logisticScore(base, fit, feats)
        .select(col("doc_id"), col("label").cast("long").as("label"),
          round(col("score"), 6).as("score"))
    }),
    Query("qc02_classifier_metrics", (s, dir) => {
      // classifier evaluation primitive: bucketed-AUC (tie-adjusted, over
      // a <= 1000-row histogram — never a corpus sort), Brier, accuracy;
      // here scoring the closed-form quality heuristic against the
      // curated-slice label, fully replayed by the DuckDB oracle
      val scored = graft.text.TextFunctions.qualityScore(Tables.documents(s, dir))
        .withColumn("label",
          when(col("source").isin("src0", "src1", "src2"), 1.0).otherwise(0.0))
      graft.models.Logistic.binaryMetrics(scored, "label", "quality_score")
    }).oracle(
      """WITH s AS (
           SELECT
             CASE WHEN source IN ('src0','src1','src2') THEN 1.0 ELSE 0.0 END AS y,
             round(greatest(0.0, least(1.0,
               0.25 * least(len(string_split(text,' ')) / 20.0, 1.0) +
               0.25 * least((len(list_filter(string_split(text,' '),
                 x -> x IN ('the','a','an','and','or','of','to','in','is','are','was','that','it','on','for','with','as','this')))::DOUBLE
                 / len(string_split(text,' '))) * 5.0, 1.0) +
               0.25 * (1.0 - least(((length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))::DOUBLE / length(text)) * 4.0, 1.0)) +
               0.25 * (1.0 - least(((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE / length(text)) * 4.0, 1.0)))), 6) AS qs
           FROM documents),
         b AS (SELECT CAST(least(floor(qs * 1000), 999) AS BIGINT) AS b, y, qs
               FROM s),
         agg AS (SELECT count(*) AS n, sum(y) AS np,
                   avg((qs - y) * (qs - y)) AS brier,
                   avg(CASE WHEN (qs >= 0.5) = (y = 1.0) THEN 1.0 ELSE 0.0 END)
                     AS acc
                 FROM b),
         h AS (SELECT b, sum(y) AS p, sum(1.0 - y) AS ng FROM b GROUP BY b),
         c AS (SELECT b, p, ng, coalesce(sum(ng) OVER (ORDER BY b
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cn
               FROM h),
         a AS (SELECT sum(p * (cn + ng / 2)) / (sum(p) * sum(ng)) AS auc FROM c)
         SELECT n::BIGINT AS n, np::BIGINT AS n_pos, round(auc, 6) AS auc,
           round(brier, 6) AS brier, round(acc, 6) AS accuracy
         FROM agg, a"""),
    Query("qc03_logit_digest", (s, dir) =>
      rowDigest(SparkEntry.queries("qc01_quality_logit")(s, dir))).oracle(
      """SELECT '39b9fa782b206e36c74ab8af3e0f704f' AS digest, 500::BIGINT AS n_pairs""")
  )
}
