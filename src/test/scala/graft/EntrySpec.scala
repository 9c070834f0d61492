package graft

import java.io.File

import scala.io.Source

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

  // The registry behind `queries` and `oracleSql` (the graft.driver
  // families) and the driver's mains; these tests run no Spark job.
  test("registry: the family sizes add up to SparkEntry.queries, so no id is registered twice") {
    val ids = SparkEntry.families.flatten.map(_.id)
    withClue(s"registered more than once: ${ids.diff(ids.distinct).distinct}: ") {
      SparkEntry.families.map(_.size).sum shouldBe SparkEntry.queries.size
    }
  }

  test("registry: every oracleSql key is a query id") {
    SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet shouldBe empty
  }

  test("registry: exactly the 21 rows-only queries have no oracle") {
    val rowsOnly = Set("dd03_minhash_neardup", "dd04_simhash_neardup",
      "dd06_embedding_neardup", "dd13_semantic_decontaminate", "m01_arima_fit",
      "m02_ewma_fit", "m04_arima_forecast", "m06_holtwinters_fit", "m07_garch_fit",
      "m09_adf", "m10_arima_autofit", "m12_arimax", "m16_hw_forecast",
      "m17_ewma_forecast", "m41_egarch_fit", "qc01_quality_logit",
      "sd01_semantic_dedup", "sm02_knn_lsh", "sm03_knn_ivf", "sm04_knn_pq",
      "smp10_kcenter_sample")
    SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet shouldBe rowsOnly
  }

  test("only the driver surfaces Bench, Verify and Explain define a main in src/main") {
    val root = new File("src/main")
    def files(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else Seq(f).filter(g => g.getName.endsWith(".scala") || g.getName.endsWith(".java"))
    val all = files(root)
    all should not be empty
    val main = """\bdef\s+main\s*\(|\bstatic\s+void\s+main\s*\(|\bextends\s+App\b""".r
    val mains = all.filter { f =>
      val src = Source.fromFile(f, "UTF-8")
      try main.findFirstIn(src.mkString).isDefined finally src.close()
    }.map(_.getName).toSet
    mains shouldBe Set("Bench.scala", "Verify.scala", "Explain.scala")
  }
}
