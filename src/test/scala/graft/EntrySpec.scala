package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The driver's smoke surface: `SparkEntry.entry` resamples, aligns and
  * smooths the sf0.001 events per user, then fits and forecasts a per-user
  * ARIMA(1,0,1) (through [[graft.models.Fit]]). */
class EntrySpec extends AnyFunSuite with Matchers with SparkTestSession {

  test("SparkEntry.entry returns a finite forecast for every row") {
    val rows = SparkEntry.entry(spark).select("value").collect()
    rows.length should be > 0
    rows.foreach(r => java.lang.Double.isFinite(r.getDouble(0)) shouldBe true)
  }
}
