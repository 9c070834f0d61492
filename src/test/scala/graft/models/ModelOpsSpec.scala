package graft.models

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestSession

/** DataFrame lifts of the model kernels: the EWMA transform/forecast, HW
  * forecast and serial-correlation surfaces, plus the [[PerSeries]] contract
  * (null drop, tie order, skip policy) checked across every lifted function. */
class ModelOpsSpec extends AnyFunSuite with Matchers with SparkTestSession {

  private def obs(vals: Seq[Double], key: String = "a") = {
    val s = spark
    import s.implicits._
    vals.zipWithIndex.map { case (v, i) => (key, i.toLong, v) }
      .toDF("key", "ts_nanos", "value")
  }

  test("ewmaSmoothed matches the batch EWMA kernel per row") {
    val vals = Seq(1.0, 4.0, 2.0, 8.0, 5.0)
    val out = ModelOps.ewmaSmoothed(obs(vals), alpha = 0.3)
      .collect().sortBy(_.ts).map(_.smoothed)
    val expect = EWMAModel(0.3).addTimeDependentEffects(vals.toArray)
    out.zip(expect).foreach { case (a, b) => a shouldBe b }
  }

  test("forecastEwma is flat at the last smoothed level") {
    val vals = Seq.tabulate(40)(i => 10.0 + math.sin(i * 0.7))
    val fc = ModelOps.forecastEwma(obs(vals), h = 4).collect().sortBy(_.step)
    fc.length shouldBe 4
    fc.map(_.value).distinct.length shouldBe 1 // SES forecast is constant
    fc.map(_.ts) shouldBe Array(40L, 41L, 42L, 43L)
  }

  test("forecastHoltWinters produces h extrapolated steps per key") {
    val vals = Seq.tabulate(36)(i => 100.0 + 10 * math.sin(i * math.Pi / 6) + i)
    val fc = ModelOps.forecastHoltWinters(obs(vals), period = 12, h = 6)
      .collect().sortBy(_.step)
    fc.length shouldBe 6
    // trending series: forecasts continue above the last level
    fc.last.value should be > vals.max - 20
  }

  test("durbinWatsonAll matches the scalar statistic") {
    val vals = Seq(1.0, -1.0, 1.0, -1.0, 1.0) // perfectly alternating -> dw near 4
    val dw = ModelOps.durbinWatsonAll(obs(vals)).collect()(0).dw
    dw shouldBe graft.stats.StatTests.durbinWatson(vals.toArray)
    dw should be > 3.0
  }

  test("breuschGodfrey/breuschPagan lifts return one row per key") {
    val rnd = new scala.util.Random(9)
    val vals = Seq.tabulate(60)(i => 5.0 + 0.1 * i + rnd.nextGaussian())
    val bg = ModelOps.breuschGodfreyAll(obs(vals), lags = 2).collect()
    bg.length shouldBe 1
    bg(0).pValue should (be >= 0.0 and be <= 1.0)
    val bp = ModelOps.breuschPaganAll(obs(vals)).collect()
    bp.length shouldBe 1
    bp(0).pValue should (be >= 0.0 and be <= 1.0)
  }

  test("skipOnFailure drops a key on a non-fatal error and rethrows a fatal one") {
    PerSeries.skipOnFailure(Some(1)) shouldBe List(1)
    PerSeries.skipOnFailure[Int](throw new IllegalArgumentException("degenerate")) shouldBe empty
    // a lazily built row is materialized inside the guard
    PerSeries.skipOnFailure(Iterator(1).map[Int](_ => throw new ArithmeticException()))
      .shouldBe(empty)
    an[InterruptedException] should be thrownBy
      PerSeries.skipOnFailure[Int](throw new InterruptedException())
  }

  test("medianStep is the median gap, 1 for a single point") {
    PerSeries.medianStep(Array(0L, 10L, 30L, 40L)) shouldBe 10L
    PerSeries.medianStep(Array(0L, 5L, 20L, 40L)) shouldBe 15L
    PerSeries.medianStep(Array(7L)) shouldBe 1L
  }

  /** (key, ts_nanos, value, y, x): `value` mirrors y, the one-column input. */
  private type Obs = (String, Long, Option[Double], Option[Double], Option[Double])

  private def frame(rows: Seq[Obs]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("key", "ts_nanos", "value", "y", "x")
  }

  /** 48 co-sampled observations: y an AR(1) driven by x plus a period-4
    * season, x an AR(1). */
  private def healthy(key: String, seed: Int): Seq[Obs] = {
    val r = new scala.util.Random(seed)
    var x = 0.0
    var y = 0.0
    (0 until 48).map { t =>
      x = 0.4 * x + r.nextGaussian()
      y = 0.5 * y + 0.8 * x + 2.0 * math.sin(t * math.Pi / 2) + r.nextGaussian()
      (key, 10L * t, Some(10.0 + y), Some(10.0 + y), Some(x))
    }
  }

  /** A null in any value column drops the row, whichever function reads it. */
  private def nullRows(key: String): Seq[Obs] =
    (0 until 3).flatMap(i => Seq((key, 1000L + i, None, None, Some(1.0)),
      (key, 2000L + i, None, Some(1.0), None)))

  private val degenerate: Seq[Obs] = Seq(("bad", 0L, Some(1.0), Some(1.0), Some(1.0)))

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** What a one-observation key does to each lift: "drop" (no rows for it:
    * a tolerant function skips the key its kernel throws on, a VAR lift
    * emits nothing for an under-determined system), "fail" (the kernel
    * throws and the job fails) or "keep" (the kernel accepts the series). */
  private val lifts: Seq[(String, DataFrame => DataFrame, String)] = Seq(
    ("fitArima", ModelOps.fitArima(_, 1, 0, 1).toDF(), "keep"),
    ("autoFitArima", ModelOps.autoFitArima(_).toDF(), "drop"),
    ("forecastArima", ModelOps.forecastArima(_, 1, 0, 1, h = 3).toDF(), "keep"),
    ("fitEwma", ModelOps.fitEwma(_).toDF(), "keep"),
    ("fitGarch", ModelOps.fitGarch(_).toDF(), "keep"),
    ("fitEgarch", ModelOps.fitEgarch(_).toDF(), "keep"),
    ("fitAr", ModelOps.fitAr(_, 2).toDF(), "drop"),
    ("fitHoltWinters", ModelOps.fitHoltWinters(_, period = 4).toDF(), "drop"),
    ("kpssAll", ModelOps.kpssAll(_).toDF(), "fail"),
    ("adfAll", ModelOps.adfAll(_).toDF(), "fail"),
    ("ljungBoxAll", ModelOps.ljungBoxAll(_, lags = 5).toDF(), "keep"),
    ("ewmaSmoothed", ModelOps.ewmaSmoothed(_, alpha = 0.3).toDF(), "keep"),
    ("holtSmoothed", ModelOps.holtSmoothed(_, alpha = 0.5, beta = 0.3).toDF(), "keep"),
    ("forecastEwma", ModelOps.forecastEwma(_, h = 3).toDF(), "keep"),
    ("forecastHoltWinters", ModelOps.forecastHoltWinters(_, period = 4, h = 3).toDF(), "drop"),
    ("mannKendallAll", ModelOps.mannKendallAll(_).toDF(), "keep"),
    ("durbinWatsonAll", ModelOps.durbinWatsonAll(_).toDF(), "keep"),
    ("breuschGodfreyAll", ModelOps.breuschGodfreyAll(_, lags = 2).toDF(), "drop"),
    ("breuschPaganAll", ModelOps.breuschPaganAll(_).toDF(), "drop"),
    ("arFilterResiduals", ModelOps.arFilterResiduals(_, 1).toDF(), "drop"),
    ("fitArx", ModelOps.fitArx(_, 1, 1, includeCurrentX = true).toDF(), "drop"),
    ("varpFit", VectorAR.varpFit(_, 1, Seq("y", "x")), "drop"),
    ("varpForecast", VectorAR.varpForecast(_, 1, 3, Seq("y", "x")), "drop"),
    ("grangerLagP", VectorAR.grangerLagP(_, 1), "drop"),
    ("varpOrderSelect", VectorAR.varpOrderSelect(_, 2, Seq("y", "x")), "drop"),
    ("varpIrf", VectorAR.varpIrf(_, 1, 3, Seq("y", "x")), "drop"),
    ("varpFevd", VectorAR.varpFevd(_, 1, 3, Seq("y", "x")), "drop"),
    ("varpForecastIntervals", VectorAR.varpForecastIntervals(_, 1, 3, Seq("y", "x")), "drop"))

  test("every lift ignores nulls, ignores row order and isolates a degenerate key") {
    val a = healthy("a", 1)
    val b = healthy("b", 2)
    val clean = frame(a ++ b)
    val withNulls = frame(a ++ nullRows("a") ++ b ++ nullRows("b"))
    val shuffled = frame(new scala.util.Random(7).shuffle(a ++ b))
    for ((name, lift, onBad) <- lifts) withClue(s"$name: ") {
      val expect = sortedRows(lift(clean))
      expect.exists(_.startsWith("[a,")) shouldBe true
      expect.exists(_.startsWith("[b,")) shouldBe true
      sortedRows(lift(withNulls)) shouldBe expect
      sortedRows(lift(shuffled)) shouldBe expect
      val withBad = frame(a ++ degenerate)
      onBad match {
        case "fail" =>
          an[Exception] should be thrownBy lift(withBad).collect()
        case _ =>
          val got = sortedRows(lift(withBad))
          got.filterNot(_.startsWith("[bad,")) shouldBe sortedRows(lift(frame(a)))
          got.exists(_.startsWith("[bad,")) shouldBe (onBad == "keep")
      }
    }
  }

  test("equal-ts rows are ordered by value, so arrival order cannot change a fit") {
    val r = new scala.util.Random(11)
    // every ts carries two observations
    val rows = (0 until 40).map(i =>
      ("a", (i / 2).toLong, Some(r.nextGaussian()), Some(r.nextGaussian()), Some(r.nextGaussian())))
    val fwd = frame(rows).coalesce(1)
    val rev = frame(rows.reverse).coalesce(1)
    sortedRows(ModelOps.fitAr(fwd, 1).toDF()) shouldBe sortedRows(ModelOps.fitAr(rev, 1).toDF())
    sortedRows(VectorAR.varpFit(fwd, 1, Seq("y", "x"))) shouldBe
      sortedRows(VectorAR.varpFit(rev, 1, Seq("y", "x")))
  }
}
