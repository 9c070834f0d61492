package graft.text

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestSession

/** Specs for the r18 incremental dedup surfaces: [[Dedup.minhashIndex]] /
  * [[Dedup.incrementalMinhashNearDuplicates]] (the certified property:
  * incremental == the FULL pipeline on index∪batch restricted to pairs
  * touching the batch — this is what lets dd23's frozen digest be derived
  * from the committed dd03 golden) and [[Dedup.exactIndex]] /
  * [[Dedup.exactIncremental]]. */
class IncrementalDedupSpec extends AnyFunSuite with Matchers with SparkTestSession {

  // deterministic corpus with near-dups inside the index slice (0-9),
  // inside the batch slice (10-19), and straddling the boundary
  private def corpus = {
    val s = spark
    import s.implicits._
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    def text(seed: Int) = (0 until 14).map(i => words((seed * 7 + i * 3) % words.length)).mkString(" ")
    val docs = Seq(
      0L -> text(0), 1L -> text(1), 2L -> text(2), 3L -> text(3),
      4L -> (text(3) + " omega"),              // index×index near-dup (3,4)
      5L -> text(5), 6L -> text(6), 7L -> text(7), 8L -> text(8), 9L -> text(9),
      10L -> text(2),                          // batch×index exact text dup (2,10)
      11L -> (text(5) + " sigma"),             // batch×index near-dup (5,11)
      12L -> text(20), 13L -> text(21),
      14L -> text(20),                         // batch×batch dup (12,14)
      15L -> (text(21) + " tau"),              // batch×batch near-dup (13,15)
      16L -> text(26), 17L -> text(27), 18L -> text(28), 19L -> text(29))
    docs.toDF("doc_id", "text")
  }

  test("incremental minhash == full pipeline restricted to pairs touching the batch") {
    val all = corpus
    val index = all.filter(col("doc_id") < 10)
    val batch = all.filter(col("doc_id") >= 10)
    val full = Dedup.minhashNearDuplicates(all, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val restricted = full.filter { case (a, b, _) => a >= 10 || b >= 10 }
    val inc = Dedup.incrementalMinhashNearDuplicates(
        batch, Dedup.minhashIndex(index), threshold = 0.3)
      .collect().map { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        ((a min b, a max b, r.getDouble(2)), r.getBoolean(3))
      }
    inc.map(_._1).toSet shouldBe restricted
    // the restriction must be real: an index×index pair exists and is excluded
    full.exists { case (a, b, _) => a < 10 && b < 10 } shouldBe true
    restricted.size should be < full.size
    // both candidate categories exercised, and from_index labels them right
    inc.foreach { case ((a, _, _), fromIndex) => fromIndex shouldBe (a < 10) }
    inc.count(_._2) should be >= 2   // batch×index
    inc.count(!_._2) should be >= 2  // batch×batch
  }

  test("minhash banding rejects bands outside [1, numHashes] when the operator is built") {
    val index = Dedup.minhashIndex(corpus.filter(col("doc_id") < 10))
    val batch = corpus.filter(col("doc_id") >= 10)
    def builds(bands: Int): Seq[() => Any] = Seq(
      () => Dedup.minhashNearDuplicates(corpus, numHashes = 64, bands = bands),
      () => Dedup.incrementalMinhashNearDuplicates(batch, index, numHashes = 64,
        bands = bands),
      () => graft.streaming.StreamingDedup.corpusBuckets(corpus, numHashes = 64,
        bands = bands))
    // 0 used to fail planning with a bare DIVIDE_BY_ZERO; 65 gave every band
    // an empty slice, one shared bucket and an all-pairs candidate join
    for (bands <- Seq(0, -1, 65); build <- builds(bands)) {
      val e = intercept[IllegalArgumentException](build())
      e.getMessage should include(s"got bands = $bands")
      e.getMessage should include("numHashes = 64")
    }
    builds(64).foreach(build => build()) // one hash per band is legal
  }

  test("exactIncremental: index dup, within-batch dup, and fresh doc") {
    val s = spark
    import s.implicits._
    val index = Dedup.exactIndex(Seq(0L -> "aaa bbb", 1L -> "ccc ddd").toDF("doc_id", "text"))
    val batch = Seq(
      10L -> "aaa bbb",   // dup of index doc 0
      11L -> "eee fff",   // fresh, becomes the batch keeper
      12L -> "eee fff",   // dup of 11 within the batch
      13L -> "ggg hhh"    // fresh
    ).toDF("doc_id", "text")
    val out = Dedup.exactIncremental(batch, index).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(2), Option(r.get(3)).map(_.asInstanceOf[Long])))).toMap
    out(10L) shouldBe ((true, Some(0L)))
    out(11L) shouldBe ((false, None))
    out(12L) shouldBe ((true, Some(11L)))
    out(13L) shouldBe ((false, None))
    // the index delta: exactIndex over non-dup batch rows appends cleanly
    val delta = Dedup.exactIndex(batch.filter(col("doc_id").isin(11L, 13L)))
    delta.count() shouldBe 2L
  }

  test("exactIncremental: null text fingerprints as '' and still emits a row") {
    val s = spark
    import s.implicits._
    val index = Dedup.exactIndex(Seq((0L, null: String), (1L, "real doc"))
      .toDF("doc_id", "text"))
    val batch = Seq((10L, null: String), (11L, ""), (12L, "fresh"))
      .toDF("doc_id", "text")
    val out = Dedup.exactIncremental(batch, index).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(2), Option(r.get(3))))).toMap
    // no batch row vanishes; null and '' share the empty-string fingerprint
    out.keySet shouldBe Set(10L, 11L, 12L)
    out(10L) shouldBe ((true, Some(0L)))
    out(11L) shouldBe ((true, Some(0L)))
    out(12L) shouldBe ((false, None))
  }

  test("exactIncremental: a batch fingerprint present in the index dups ALL its batch rows") {
    val s = spark
    import s.implicits._
    val index = Dedup.exactIndex(Seq(0L -> "xxx yyy").toDF("doc_id", "text"))
    val batch = Seq(10L -> "xxx yyy", 11L -> "xxx yyy").toDF("doc_id", "text")
    val out = Dedup.exactIncremental(batch, index).collect()
      .map(r => r.getLong(0) -> r.get(3)).toMap
    out shouldBe Map(10L -> 0L, 11L -> 0L)
  }

  test("exact-index append round-trip: index + delta == full rebuild (r19 carry-over)") {
    val s = spark
    import s.implicits._
    // the documented ingest loop: flag a batch against the index, then
    // append exactIndex() of the batch's NON-dup rows — after N days of
    // that, the accumulated index must equal a from-scratch rebuild over
    // everything ingested (ids ascend across batches, the ingest reality)
    val day0 = Seq((0L, "alpha"), (1L, "beta"), (2L, null: String))
      .toDF("doc_id", "text")
    val day1 = Seq((10L, "alpha"), (11L, "gamma"), (12L, "gamma"), (13L, ""))
      .toDF("doc_id", "text")
    val day2 = Seq((20L, "gamma"), (21L, "delta")).toDF("doc_id", "text")
    var index = Dedup.exactIndex(day0)
    for (batch <- Seq(day1, day2)) {
      val flagged = Dedup.exactIncremental(batch, index)
      val freshIds = flagged.filter(!col("is_dup")).select(col("doc_id"))
        .collect().map(_.getLong(0)).toSet
      val delta = Dedup.exactIndex(
        batch.filter(col("doc_id").isin(freshIds.toSeq: _*)))
      index = index.union(delta)
    }
    val rebuilt = Dedup.exactIndex(day0.union(day1).union(day2))
    val got = index.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = rebuilt.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got shouldBe want
    // and the appended index flags a day-3 replay of every keeper as dup
    val day3 = Seq((30L, "alpha"), (31L, "gamma"), (32L, "brand new"))
      .toDF("doc_id", "text")
    val d3 = Dedup.exactIncremental(day3, index).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    d3 shouldBe Map(30L -> true, 31L -> true, 32L -> false)
  }
}
