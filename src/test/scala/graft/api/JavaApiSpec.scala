package graft.api

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestSession

/** Executes the javac-compiled JavaApiExample against a live session —
  * the Java parity surface both compiles from Java AND runs correctly. */
class JavaApiSpec extends AnyFunSuite with Matchers with SparkTestSession {

  test("Java API facade drives the engine end-to-end") {
    val s = spark
    import s.implicits._
    val obs = Seq(
      ("a", 1L, 1.0), ("a", 2L, 2.0), ("a", 3L, 3.0), ("a", 4L, 4.0), ("a", 5L, 5.0),
      ("b", 1L, 10.0), ("b", 2L, 20.0), ("b", 3L, 30.0), ("b", 4L, 40.0), ("b", 5L, 50.0)
    ).toDF("key", "ts_nanos", "value")
    val counts = graft.api.java.JavaApiExample.run(obs)
    counts(0) shouldBe 6L  // lags(2, trim): 3 rows per key
    counts(1) shouldBe 8L  // per-key spec: a trimmed to 3, b untouched (5)
    counts(2) shouldBe 6L  // rollMean(3): full windows only
    counts(3) shouldBe 10L // fill keeps every row
    counts(4) shouldBe 2L  // one stats row per key
    counts(5) shouldBe 2L  // one acf row per key
    counts(6) shouldBe 6L  // 2-tick buckets: 3 per key
  }

  test("Java pipeline facade drives dedup/similarity/text") {
    val s = spark
    import s.implicits._
    val docs = Seq((0L, "the quick brown fox"), (1L, "The  Quick Brown FOX!"),
      (2L, "unrelated content here")).toDF("doc_id", "text")
    val vecs = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val counts = graft.api.java.JavaApiExample.runPipeline(docs, vecs)
    counts(0) shouldBe 2L // canonical dedup merges 0 and 1
    counts(1) shouldBe 3L
    counts(2) shouldBe 3L
    counts(3) shouldBe 2L // top-2 neighbors of one query
    counts(4) shouldBe 3L // redact keeps every row
    counts(5) shouldBe 3L // all three md5 hexes start below '8'
    counts(6) shouldBe 1L // only doc 0 shares 3-shingles with the holdout (itself)
  }

  test("Java round-9 facade drives semantic dedup/mixing/evaluation") {
    val s = spark
    import s.implicits._
    val docs = Seq((0L, "alpha beta gamma", "web"), (1L, "alpha beta delta", "web"),
      (2L, "int main() { return 0; }", "books")).toDF("doc_id", "text", "source")
    val vecs = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val fc = (1 to 12).map(t => ("k", t.toLong, t * 1.0, t * 1.0 + 0.5))
      .toDF("key", "ts_nanos", "actual", "predicted")
    val counts = graft.api.java.JavaApiExample.runRound9(docs, vecs, fc)
    counts(0) shouldBe 1L // cos(v0,v1)=0.994 >= 0.9: one semantic dup pair
    counts(1) shouldBe 2L // keeper election drops id 1
    counts(2) shouldBe 4L // top-2 log-odds keywords x 2 sources
    counts(3) shouldBe 2L // one temperature-mix row per source
    counts(4) shouldBe 3L // code detection: one row per doc
    counts(5) shouldBe 3L // hashed embedding per doc
    counts(6) shouldBe 2L // snapshot self-diff: one 'unchanged' row per source
    counts(7) shouldBe 1L // forecast accuracy: one row per key
    counts(8) shouldBe 1L // dominant period: one row per key
    counts(9) shouldBe 1L // VAR(1): one row per key
  }

  test("Java round-12 facade drives VAR(p)/Granger/stratum-cap/multi-probe keepers") {
    val s = spark
    import s.implicits._
    val docs = (0 until 20).map(i =>
      (i.toLong, s"some document text $i", if (i % 2 == 0) "web" else "books"))
      .toDF("doc_id", "text", "source")
    val vecs = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val biv = (for (k <- Seq("a", "b"); t <- 0 until 40) yield
      (k, t.toLong, math.sin(0.4 * t) + 0.1 * (t % 5),
        math.cos(0.9 * t) * 0.7 + 0.05 * (t % 3)))
      .toDF("key", "ts_nanos", "y", "x")
    val counts = graft.api.java.JavaApiExample.runRound12(docs, vecs, biv)
    counts(0) shouldBe 12L // VAR(1) bivariate: 2 keys x 2 eqs x 3 terms
    counts(1) shouldBe 12L // forecast: 2 keys x 3 steps x 2 series
    counts(2) shouldBe 2L  // one Granger F row per key
    counts(3) shouldBe 6L  // 2 sources x cap 3
    counts(4) shouldBe 2L  // multi-probe keeper election drops id 1
    counts(5) shouldBe 6L  // order selection: 2 keys x p in 1..3
    counts(6) shouldBe 2L  // one best-order row per key
  }

  test("Java round-13 facade drives IRF/FEVD/intervals/DSIR/logistic/tiers") {
    val s = spark
    import s.implicits._
    val docs = (0 until 12).map(i =>
      (i.toLong, s"alpha beta token$i gamma delta epsilon zeta", "web"))
      .toDF("doc_id", "text", "source")
    val biv = (for (k <- Seq("a", "b"); t <- 0 until 40) yield
      (k, t.toLong, math.sin(0.4 * t) + 0.1 * (t % 5),
        math.cos(0.9 * t) * 0.7 + 0.05 * (t % 3)))
      .toDF("key", "ts_nanos", "y", "x")
    val rnd = new scala.util.Random(3)
    val labeled = (0 until 200).map { _ =>
      val x = rnd.nextGaussian()
      (x, if (rnd.nextDouble() < 1.0 / (1.0 + math.exp(-x))) 1.0 else 0.0)
    }.toDF("x1", "y")
    val counts = graft.api.java.JavaApiExample.runRound13(docs, biv, labeled)
    counts(0) shouldBe 24L // IRF: 2 keys x 3 steps x 2x2
    counts(1) shouldBe 8L  // FEVD: 2 keys x 2x2
    counts(2) shouldBe 8L  // intervals: 2 keys x 2 steps x 2 eqs
    counts(3) shouldBe 12L // one weight row per doc
    counts(4) shouldBe 5L  // Gumbel top-5
    counts(5) shouldBe 2L  // intercept + x1
    counts(6) shouldBe 1L  // one metrics row
    counts(7) shouldBe 12L // one tier row per doc
  }

  test("Java round-16 facade drives ARX fit and AR filter residuals") {
    val s = spark
    import s.implicits._
    val biv = (for (k <- Seq("a", "b"); t <- 0 until 40) yield
      (k, t.toLong, math.sin(0.4 * t) + 0.1 * (t % 5),
        math.cos(0.9 * t) * 0.7 + 0.05 * (t % 3)))
      .toDF("key", "ts_nanos", "y", "x")
    val counts = graft.api.java.JavaApiExample.runRound16(biv)
    counts(0) shouldBe 2L  // one ARX fit per key
    counts(1) shouldBe 80L // one residual row per observation
  }

  test("Java round-4 facade drives clustering/repetition/sampling/embeddings") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, "a b c d e f g", "web", 13L), (1L, "a b c d e x y", "web", 13L),
      (2L, "totally different words here now ok", "books", 35L))
      .toDF("doc_id", "text", "source", "n_chars")
    val vecs = Seq((0L, Array(1.0f, 0.0f), 0), (1L, Array(0.0f, 2.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val pairs = Seq((0L, 1L)).toDF("id_a", "id_b")
    val counts = graft.api.java.JavaApiExample.runRound4(docs, vecs, pairs)
    counts(0) shouldBe 3L // one label row per doc
    counts(1) shouldBe 3L // every doc has >= 3 spans (7 words, k=5)
    counts(2) shouldBe 3L
    counts(3) shouldBe 2L // books kept via defaultRate=1; web halved (doc1's md5 < '8')
    counts(4) shouldBe 2L // 1 label x 2 dims
    counts(5) shouldBe 2L
    counts(6) shouldBe 0L // constant/singleton groups: null stddev, no outliers
    counts(7) shouldBe 3L // one ngram-repetition signal row per doc
    // tiny docs always bust the top-gram caps (a single 2-gram covers
    // > 20% of a 7-word doc), so the Table-A1 gate keeps none of them
    counts(8) shouldBe 0L
  }

  test("Java model facade returns flat DataFrames") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(5)
    val obs = (0 until 60).map(i => ("a", i.toLong, 10.0 + rnd.nextGaussian()))
      .toDF("key", "ts_nanos", "value")
    val fit = graft.api.java.JavaModelOps.fitEwma(obs, "key", "ts_nanos", "value")
    fit.count() shouldBe 1L
    fit.columns should contain("smoothing")
  }

  test("Java resample picks the same aggregate as the Scala by-name overload") {
    val s = spark
    import s.implicits._
    // 2-tick buckets: a@0 opens with a null, b@2 holds only a null
    val obs = Seq[(String, Long, _root_.java.lang.Double)](("a", 0L, null), ("a", 1L, 1.0),
      ("a", 2L, 2.0), ("b", 0L, 10.0), ("b", 2L, null))
      .toDF("key", "ts_nanos", "value")
    def values(df: org.apache.spark.sql.DataFrame): Seq[Any] =
      df.orderBy("key", "ts_nanos").collect().toSeq.map(_.get(2))
    for ((agg, expected) <- Seq("count" -> Seq(1.0, 1.0, 1.0, 0.0),
        "first" -> Seq(1.0, 2.0, 10.0, null))) {
      val viaJava = graft.api.java.JavaTimeSeriesOps.resample(obs, 2L, agg,
        false, false, 0L, "key", "ts_nanos", "value")
      val viaScala = graft.ts.TimeSeriesOps.resample(obs, 2L, agg,
        false, false, 0L, "key", "ts_nanos", "value")
      viaJava.schema shouldBe viaScala.schema
      values(viaJava) shouldBe values(viaScala)
      values(viaJava) shouldBe expected
    }
  }
}
