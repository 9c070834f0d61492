package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestSession

class StreamingSpec extends AnyFunSuite with Matchers with SparkTestSession {

  test("tumbling streaming resample aggregates per key and event-time window") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[(String, Timestamp, Double)]
    val out = StreamingResample.tumbling(
      input.toDF().toDF("key", "ts", "value"), "10 minutes", "5 minutes", sum)
    val query = out.writeStream.format("memory").queryName("tumble_out")
      .outputMode("update").start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      input.addData(("a", t(1), 1.0), ("a", t(5), 2.0), ("a", t(12), 4.0),
        ("b", t(3), 10.0))
      query.processAllAvailable()
      // late-but-in-watermark data merges into its window
      input.addData(("a", t(8), 100.0))
      query.processAllAvailable()
      val rows = s.sql(
        """SELECT key, bucket_start, max(value) AS v FROM tumble_out
           GROUP BY key, bucket_start ORDER BY key, bucket_start""").collect()
      val byKey = rows.map(r => (r.getString(0), r.getTimestamp(1).toString, r.getDouble(2)))
      byKey should contain(("a", "2024-01-01 10:00:00.0", 103.0)) // 1+2+100
      byKey should contain(("a", "2024-01-01 10:10:00.0", 4.0))
      byKey should contain(("b", "2024-01-01 10:00:00.0", 10.0))
    } finally query.stop()
  }

  test("streaming exact dedup drops watermark-window duplicates") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val out = StreamingDedup.streamingExactDedup(
      input.toDF().toDF("doc_id", "event_time", "text"))
    val query = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      input.addData(
        (1L, t(1), "the quick brown fox"),
        (2L, t(2), "The  Quick  Brown FOX!"), // canonical dup of 1
        (3L, t(3), "something else entirely"))
      query.processAllAvailable()
      input.addData((4L, t(4), "the quick brown fox")) // dup again
      query.processAllAvailable()
      val ids = s.sql("SELECT doc_id FROM dedup_out").collect().map(_.getLong(0)).toSet
      ids should contain(3L)
      // exactly one survivor of the {1,2,4} canonical-duplicate family
      ids.intersect(Set(1L, 2L, 4L)).size shouldBe 1
    } finally query.stop()
  }

  test("streaming exact dedup against an exactIndex drops indexed and within-window dups") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val index = graft.text.Dedup.exactIndex(
      Seq(100L -> "already ingested doc").toDF("doc_id", "text"))
    val input = MemoryStream[(Long, Timestamp, String)]
    val out = StreamingDedup.streamingExactDedupAgainstIndex(
      input.toDF().toDF("doc_id", "event_time", "text"), index)
    val query = out.writeStream.format("memory").queryName("exact_idx_out")
      .outputMode("append").start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      input.addData(
        (1L, t(0), "already ingested doc"),  // dropped: in the index
        (2L, t(1), "fresh doc"),             // kept
        (3L, t(2), "fresh doc"))             // dropped: dup of 2 in-window
      query.processAllAvailable()
      val ids = s.sql("SELECT doc_id FROM exact_idx_out").collect().map(_.getLong(0)).toSet
      ids shouldBe Set(2L)
    } finally query.stop()
  }

  test("streaming exact dedup against an index shares the batch NULL-text contract") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    // the index's '' row comes from a NULL-text doc: batch coalesces NULL->''
    val index = graft.text.Dedup.exactIndex(
      Seq((100L, null: String), (101L, "kept reference"))
        .toDF("doc_id", "text"))
    val input = MemoryStream[(Long, Timestamp, String)]
    val out = StreamingDedup.streamingExactDedupAgainstIndex(
      input.toDF().toDF("doc_id", "event_time", "text"), index)
    val query = out.writeStream.format("memory").queryName("null_idx_out")
      .outputMode("append").start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      input.addData(
        (1L, t(0), null: String),  // dropped: NULL ≡ '' is in the index
        (2L, t(1), ""),            // dropped: same fingerprint family
        (3L, t(2), "fresh doc"))   // kept
      query.processAllAvailable()
      val ids = s.sql("SELECT doc_id FROM null_idx_out").collect().map(_.getLong(0)).toSet
      // pre-r20 the NULL-text doc got a NULL fingerprint, never matched the
      // left_anti, and survived — the batch/stream contract divergence
      ids shouldBe Set(3L)
    } finally query.stop()
  }

  test("streaming near-dup against a minhashIndex matches the batch incremental operator") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog in the morning sun"),
      (101L, "completely unrelated reference content about distributed query engines"),
      (102L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    val index = graft.text.Dedup.minhashIndex(corpus)
    val batchDocs = Seq(
      (1L, "the quick brown fox jumps over the lazy cat in the morning sun"),
      (2L, "fresh document with no counterpart anywhere in the corpus"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    // batch truth: the index-side pairs of the incremental operator
    val expected = graft.text.Dedup.incrementalMinhashNearDuplicates(
        batchDocs, index, threshold = 0.4)
      .filter(col("from_index"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    expected.map(_._1) should contain allOf (1L, 3L)

    val input = MemoryStream[(Long, Timestamp, String)]
    val out = StreamingDedup.streamingNearDupAgainstIndex(
      input.toDF().toDF("doc_id", "event_time", "text"), index, threshold = 0.4)
    val query = out.writeStream.format("memory").queryName("idx_neardup_out")
      .outputMode("append").start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      input.addData((1L, t(0), "the quick brown fox jumps over the lazy cat in the morning sun"),
        (2L, t(1), "fresh document with no counterpart anywhere in the corpus"),
        (3L, t(2), "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      query.processAllAvailable()
      // append-mode pair-dedup flushes once the watermark passes
      input.addData((9L, Timestamp.valueOf("2024-01-01 11:00:00"), "tick"))
      query.processAllAvailable()
      val got = s.sql("SELECT stream_id, corpus_id, jaccard FROM idx_neardup_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      got shouldBe expected // same pairs AND identical verify values
    } finally query.stop()
  }

  test("streaming near-dup flags stream docs matching a static corpus") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog in the morning sun"),
      (101L, "completely unrelated reference content about distributed query engines")
    ).toDF("doc_id", "text")
    val buckets = StreamingDedup.corpusBuckets(corpus, k = 2, numHashes = 64, bands = 32)
    val input = MemoryStream[(Long, Timestamp, String)]
    val out = StreamingDedup.streamingNearDupAgainstCorpus(
      input.toDF().toDF("doc_id", "event_time", "text"), buckets,
      k = 2, numHashes = 64, bands = 32, threshold = 0.5)
    val query = out.writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, Timestamp.valueOf("2024-01-01 10:00:00"),
          "the quick brown fox jumps over the lazy cat in the morning sun"),
        (2L, Timestamp.valueOf("2024-01-01 10:01:00"),
          "fresh document with no counterpart anywhere"))
      query.processAllAvailable()
      // append-mode pair-dedup emits after the watermark passes: push a
      // late tick so the earlier matches flush
      input.addData((3L, Timestamp.valueOf("2024-01-01 11:00:00"), "tick"))
      query.processAllAvailable()
      val pairs = s.sql("SELECT stream_id, corpus_id FROM neardup_out").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      pairs should contain((1L, 100L))
      pairs.map(_._1) should not contain 2L
      // multi-band collisions collapsed to one row per pair
      pairs.distinct.length shouldBe pairs.length
    } finally query.stop()
  }

  test("streaming decontamination matches the batch operator") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val holdout = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val holdSh = StreamingDedup.holdoutShingles(holdout, k = 3)
    val input = MemoryStream[(Long, Timestamp, String)]
    val out = StreamingDedup.streamingDecontaminate(
      input.toDF().toDF("doc_id", "event_time", "text"), holdSh, k = 3)
    val query = out.writeStream.format("memory").queryName("decon_out")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, Timestamp.valueOf("2024-01-01 10:00:00"), "alpha beta gamma delta zeta"),
        (2L, Timestamp.valueOf("2024-01-01 10:01:00"), "one two three four five"))
      query.processAllAvailable()
      // append-mode windowed agg emits after the watermark passes the window:
      // push a late doc (itself contaminated, so it reaches the watermark node)
      input.addData((3L, Timestamp.valueOf("2024-01-01 11:00:00"), "alpha beta gamma"))
      query.processAllAvailable()
      val rows = s.sql("SELECT doc_id, n_contaminated_shingles FROM decon_out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      rows(1L) shouldBe 2L // shares "alpha beta gamma" and "beta gamma delta"
      rows.keySet should not contain 2L
      // identical to the batch operator on the same data
      val batch = graft.text.Dedup.decontaminate(
        Seq((1L, "alpha beta gamma delta zeta"), (2L, "one two three four five"))
          .toDF("doc_id", "text"), holdout, k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      batch shouldBe Map(1L -> 2L)
    } finally query.stop()
  }

  test("sliding streaming windows produce overlapping buckets") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[(String, Timestamp, Double)]
    val out = StreamingResample.sliding(
      input.toDF().toDF("key", "ts", "value"), "10 minutes", "5 minutes", "5 minutes")
    val query = out.writeStream.format("memory").queryName("slide_out")
      .outputMode("update").start()
    try {
      input.addData(("a", Timestamp.valueOf("2024-01-01 10:07:00"), 6.0))
      query.processAllAvailable()
      // one event falls into two sliding windows: [10:00,10:10) and [10:05,10:15)
      val starts = s.sql("SELECT DISTINCT bucket_start FROM slide_out").collect()
        .map(_.getTimestamp(0).toString).sorted
      starts.toSeq shouldBe Seq("2024-01-01 10:00:00.0", "2024-01-01 10:05:00.0")
    } finally query.stop()
  }

  test("streaming outliers flag a spike against running Welford statistics") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[(String, Long, Double)]
    val out = StreamingResample.streamingOutliers(
      input.toDF().toDF("key", "ts_nanos", "value"), threshold = 3.0, minObs = 10)
    val query = out.writeStream.format("memory").queryName("outlier_out")
      .outputMode("append").start()
    try {
      // 20 calm points, then a spike, across two micro-batches — state carries
      input.addData((0 until 12).map(i => ("a", i.toLong, 10.0 + (i % 3) * 0.1)): _*)
      query.processAllAvailable()
      input.addData((12 until 20).map(i => ("a", i.toLong, 10.0 + (i % 3) * 0.1)) :+
        (("a", 20L, 50.0)): _*)
      query.processAllAvailable()
      val rows = s.sql("SELECT key, seq, value, zScore FROM outlier_out").collect()
      rows.length shouldBe 1
      rows(0).getLong(1) shouldBe 20L
      rows(0).getDouble(3) should be > 3.0
      // a second calm batch adds no new flags
      input.addData(("a", 21L, 10.1))
      query.processAllAvailable()
      s.sql("SELECT count(*) FROM outlier_out").first().getLong(0) shouldBe 1L
    } finally query.stop()
  }

  test("streaming resample matches batch across all four boundary modes") {
    // r14 directive #9: the four closedRight x stampRight modes of the
    // batch resample (reference Resample.scala:62-86) replayed on a
    // MemoryStream must produce the identical bucket set — including an
    // observation sitting EXACTLY on a bucket boundary (10:10), which is
    // the only input the modes disagree on
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val widthUs = 10L * 60 * 1000000
    def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val obs = Seq(("a", t(0), 1.0), ("a", t(5), 2.0), ("a", t(10), 4.0),
      ("a", t(12), 8.0), ("a", t(20), 16.0), ("b", t(10), 3.0), ("b", t(15), 5.0))
    val batchDf = obs.toDF("key", "ts", "value")
      .withColumn("ts_us", unix_micros(col("ts")))
    for (closedRight <- Seq(false, true); stampRight <- Seq(false, true)) {
      val expected = graft.ts.TimeSeriesOps.resample(batchDf, widthUs, sum(_),
        closedRight, stampRight, 0L, "key", "ts_us", "value")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val input = MemoryStream[(String, Timestamp, Double)]
      val out = StreamingResample.tumblingModes(
        input.toDF().toDF("key", "ts", "value"), widthUs, sum(_),
        closedRight, stampRight, "5 minutes")
      val qn = s"modes_${closedRight}_$stampRight"
      val query = out.writeStream.format("memory").queryName(qn)
        .outputMode("complete").start()
      try {
        input.addData(obs.take(4): _*)
        query.processAllAvailable()
        input.addData(obs.drop(4): _*)
        query.processAllAvailable()
        val got = s.sql(s"SELECT key, unix_micros(bucket_ts), value FROM $qn")
          .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
        withClue(s"closedRight=$closedRight stampRight=$stampRight: ") {
          got shouldBe expected
        }
      } finally query.stop()
    }
  }

  test("tumblingModes append mode: watermark on the bucket column emits and evicts") {
    // ADVICE r16 (medium): grouping by a DERIVED timestamp dropped the
    // event-time watermark metadata — append mode was rejected by the
    // analyzer and state never evicted. The watermark now lives on the
    // bucket column itself; this test proves (a) the analyzer accepts
    // append mode, (b) closed buckets emit exactly once as the watermark
    // passes them, and (c) data later than the watermark is dropped
    // instead of resurrecting a finalized bucket.
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val widthUs = 10L * 60 * 1000000
    def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val input = MemoryStream[(String, Timestamp, Double)]
    val out = StreamingResample.tumblingModes(
      input.toDF().toDF("key", "ts", "value"), widthUs, sum(_),
      closedRight = false, stampRight = false, watermark = "0 seconds")
    val query = out.writeStream.format("memory").queryName("modes_append")
      .outputMode("append").start()
    try {
      input.addData(("a", t(0), 1.0), ("a", t(5), 2.0)) // bucket 10:00
      query.processAllAvailable()
      input.addData(("a", t(12), 4.0)) // bucket 10:10; wm from prev batch=10:00
      query.processAllAvailable()
      input.addData(("a", t(25), 8.0)) // bucket 10:20; wm=10:10 -> emits 10:00
      query.processAllAvailable()
      // flush + a too-late row (bucket 10:00 is finalized; must be dropped)
      input.addData(("a", t(45), 0.0), ("a", t(2), 99.0))
      query.processAllAvailable()
      input.addData(("a", t(59), 0.0)) // advance wm past 10:40
      query.processAllAvailable()
      val got = s.sql("SELECT key, unix_micros(bucket_ts), value FROM modes_append")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      def us(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00").getTime * 1000L
      // 10:50 closes too: the trailing no-data micro-batch advances the
      // watermark to the last batch's max bucket (10:50) and flushes it
      got shouldBe Set(("a", us(0), 3.0), ("a", us(10), 4.0),
        ("a", us(20), 8.0), ("a", us(40), 0.0), ("a", us(50), 0.0))
    } finally query.stop()
  }

  test("tumblingModes update mode: late rows drop and state evicts (bounded)") {
    // VERDICT r17 #1: the one declared-but-untested semantic. Certifies, via
    // the state-store metrics themselves, that (a) aggregation state is
    // EVICTED as the watermark advances (numRowsTotal stays bounded by the
    // watermark horizon while the stream crosses 12 buckets), and (b) an
    // event older than watermark + one bucket width is DROPPED by the
    // watermark filter (numRowsDroppedByWatermark) and never resurrects its
    // finalized bucket — in update mode, where r17's tests never looked.
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val widthUs = 10L * 60 * 1000000
    val base = Timestamp.valueOf("2024-01-01 10:00:00").getTime
    def t(min: Int) = new Timestamp(base + min * 60000L)
    val input = MemoryStream[(String, Timestamp, Double)]
    val out = StreamingResample.tumblingModes(
      input.toDF().toDF("key", "ts", "value"), widthUs, sum(_),
      closedRight = false, stampRight = false, watermark = "10 minutes")
    val query = out.writeStream.format("memory").queryName("modes_evict")
      .outputMode("update").start()
    try {
      // one batch per bucket: 12 buckets at 10-minute stride
      for (m <- 0 until 12) {
        input.addData(("a", t(10 * m), 1.0))
        query.processAllAvailable()
      }
      // state horizon: during batch m the watermark is bucket(m-1) - 10min
      // = bucket(m-2), so live state is at most {m-2, m-1, m} — eviction
      // must hold numRowsTotal at <= 3 even though 12 buckets streamed by
      val progresses = query.recentProgress.filter(_.stateOperators.nonEmpty)
      progresses should not be empty
      val lastRows = progresses.last.stateOperators.head.numRowsTotal
      lastRows should be <= 3L
      // watermark is now bucket(11) - 10min = minute 100; an event at
      // minute 0 is older than watermark + one width -> dropped
      input.addData(("a", t(0), 99.0))
      query.processAllAvailable()
      val dropped = query.recentProgress.filter(_.stateOperators.nonEmpty)
        .map(_.stateOperators.head.numRowsDroppedByWatermark).sum
      dropped should be >= 1L
      // the finalized bucket's value never saw the 99: every update-mode
      // emission for bucket 0 stays at the original 1.0
      val b0 = s.sql("SELECT max(value) FROM modes_evict WHERE unix_micros(bucket_ts) = "
        + (base * 1000L)).head().getDouble(0)
      b0 shouldBe 1.0
      // state still bounded after the late batch
      query.recentProgress.filter(_.stateOperators.nonEmpty)
        .last.stateOperators.head.numRowsTotal should be <= 3L
    } finally query.stop()
  }

  test("tumblingModesLateness keeps raw-lateness rows that tumblingModes drops") {
    // ADVICE r17: the r17 watermark move re-scoped `watermark` from raw
    // lateness to bucket-label lateness. tumblingModesLateness restores the
    // raw contract by widening internally by one width. Pin both sides of
    // the boundary: with lateness "15 minutes" and width 10 minutes, an
    // event 15 minutes behind the stream head is KEPT by the wrapper but
    // DROPPED by raw tumblingModes given the same "15 minutes" string.
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val widthUs = 10L * 60 * 1000000
    val base = Timestamp.valueOf("2024-01-01 10:00:00").getTime
    def t(min: Int) = new Timestamp(base + min * 60000L)
    def run(wrapper: Boolean): Map[Long, Double] = {
      val input = MemoryStream[(String, Timestamp, Double)]
      val df = input.toDF().toDF("key", "ts", "value")
      val out =
        if (wrapper) StreamingResample.tumblingModesLateness(
          df, widthUs, sum(_), closedRight = false, stampRight = false,
          lateness = "15 minutes")
        else StreamingResample.tumblingModes(
          df, widthUs, sum(_), closedRight = false, stampRight = false,
          watermark = "15 minutes")
      val qn = s"modes_lateness_$wrapper"
      val query = out.writeStream.format("memory").queryName(qn)
        .outputMode("update").start()
      try {
        input.addData(("a", t(95), 1.0)) // bucket 90
        query.processAllAvailable()
        input.addData(("a", t(110), 1.0)) // stream head: bucket 110
        query.processAllAvailable()
        // raw lateness vs head = 15 min (tolerated); bucket label 90.
        // tumblingModes: wm = 110 - 15 = 95 > 90 -> dropped.
        // wrapper: wm = 110 - 25 = 85 <= 90 -> kept.
        input.addData(("a", t(95), 10.0))
        query.processAllAvailable()
        s.sql(s"SELECT unix_micros(bucket_ts) AS b, max(value) AS v FROM $qn GROUP BY 1")
          .collect().map(r => (r.getLong(0) - base * 1000L) / 60000000L -> r.getDouble(1))
          .toMap
      } finally query.stop()
    }
    run(wrapper = true)(90L) shouldBe 11.0  // late row merged
    run(wrapper = false)(90L) shouldBe 1.0  // late row dropped
  }

  test("streaming sessions match the batch sessionizer's groupings") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[(String, Timestamp, Double)]
    val out = StreamingResample.streamingSessions(
      input.toDF().toDF("key", "ts", "value"), gap = "10 minutes",
      watermark = "0 seconds")
    val query = out.writeStream.format("memory").queryName("session_out")
      .outputMode("append").start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      // a: events at 1,5 then a >10min gap then 30,35; b: one event
      val events = Seq(("a", t(1), 1.0), ("a", t(5), 2.0),
        ("a", t(30), 4.0), ("a", t(35), 8.0), ("b", t(3), 16.0))
      input.addData(events: _*)
      query.processAllAvailable()
      // the watermark used by batch N comes from batch N-1's max event time,
      // so two flush batches are needed to close every original session
      input.addData(("a", t(59), 0.0))
      query.processAllAvailable()
      input.addData(("b", t(59), 0.0))
      query.processAllAvailable()
      val got = s.sql(
        """SELECT key, session_start, n_events, sum_value FROM session_out""")
        .collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime * 1000L) ->
          ((r.getLong(2), r.getDouble(3)))).toMap
      // same events through the batch sessionizer (ts in micros)
      val batch = EventOps_sessions(events)
      got.keySet should contain allElementsOf batch.keySet
      batch.foreach { case (k, v) => got(k) shouldBe v }
    } finally query.stop()
  }

  test("streaming embedding near-dup matches corpus vectors, drops resends") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val corpus = Seq(
      (100L, Seq(1.0, 2.0, 3.0, 4.0)),
      (101L, Seq(-4.0, 3.0, -2.0, 1.0))).toDF("vec_id", "embedding")
    val buckets = StreamingDedup.corpusEmbeddingBuckets(corpus)
    val input = MemoryStream[(Long, Timestamp, Seq[Double])]
    val out = StreamingDedup.streamingEmbeddingNearDup(
      input.toDF().toDF("vec_id", "event_time", "embedding"), buckets)
    val query = out.writeStream.format("memory").queryName("emb_nd_out")
      .outputMode("append").start()
    try {
      // near-copy of corpus 100 (cosine ~ 1), an unrelated vector, and a
      // resend of the same near-copy inside the watermark
      input.addData(
        (1L, t(1), Seq(1.01, 2.0, 3.0, 4.0)),
        (2L, t(1), Seq(4.0, -3.0, 2.0, -1.0)))
      query.processAllAvailable()
      input.addData((1L, t(2), Seq(1.01, 2.0, 3.0, 4.0)))
      query.processAllAvailable()
      val rows = s.sql(
        "SELECT stream_id, corpus_id, cosine FROM emb_nd_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      rows.map(r => (r._1, r._2)) shouldBe Array((1L, 100L))
      rows.head._3 should be >= 0.95
    } finally query.stop()
  }

  test("streaming semantic decontamination flags what the batch operator drops") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val holdout = Seq(
      (900L, Seq(1.0, 0.0, 0.0, 0.0)),
      (901L, Seq(0.0, 1.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    // stream: 1 is a near-copy of holdout 900, 2 is orthogonal, 3 is a
    // near-copy of 901 — batch decontamination drops 1 and 3
    val streamRows = Seq(
      (1L, t(1), Seq(0.99, 0.05, 0.0, 0.0)),
      (2L, t(1), Seq(0.0, 0.0, 1.0, 0.0)),
      (3L, t(2), Seq(0.02, 1.0, 0.0, 0.0)))
    val batchDf = streamRows.map(r => (r._1, r._3)).toDF("vec_id", "embedding")
    val survivors = graft.text.Dedup.semanticDecontaminate(
        batchDf, holdout, threshold = 0.9)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    survivors shouldBe Set(2L)
    val buckets = StreamingDedup.corpusEmbeddingBuckets(holdout)
    val input = MemoryStream[(Long, Timestamp, Seq[Double])]
    val out = StreamingDedup.streamingSemanticDecontaminate(
      input.toDF().toDF("vec_id", "event_time", "embedding"), buckets,
      threshold = 0.9)
    val query = out.writeStream.format("memory").queryName("semdecon_out")
      .outputMode("append").start()
    try {
      input.addData(streamRows: _*)
      query.processAllAvailable()
      // resend inside the watermark must not re-flag
      input.addData((1L, t(3), Seq(0.99, 0.05, 0.0, 0.0)))
      query.processAllAvailable()
      val flagged = s.sql("SELECT contaminated_id FROM semdecon_out")
        .collect().map(_.getLong(0))
      flagged.toSet shouldBe Set(1L, 3L) // exactly the batch-dropped ids
      flagged.length shouldBe 2         // dedup within watermark held
    } finally query.stop()
  }

  test("chunkDocs runs unchanged on a stream (narrow ops are streaming-native)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[(Long, String)]
    val out = graft.text.TextFunctions.chunkDocs(
      input.toDF().toDF("doc_id", "text"), window = 4, overlap = 1)
    val query = out.writeStream.format("memory").queryName("chunk_out")
      .outputMode("append").start()
    try {
      input.addData((7L, "a b c d e f g h i"))
      query.processAllAvailable()
      val rows = s.sql(
        "SELECT chunk_idx, start_tok, n_chunk_tokens, chunk_text FROM chunk_out ORDER BY chunk_idx")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getString(3)))
      rows shouldBe Array((0, 0, 4, "a b c d"), (1, 3, 4, "d e f g"),
        (2, 6, 3, "g h i"))
    } finally query.stop()
  }

  test("streaming DSIR scoring matches the batch operator per document") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val raw = Seq((0L, "apple pie apple tart"), (1L, "zebra okapi quagga"),
      (2L, "apple zebra mixed bag"), (3L, "lone"))
      .toDF("doc_id", "text")
    val target = Seq((9L, "apple pie apple strudel")).toDF("doc_id", "text")
    val ratio = graft.text.Dsir.dsirRatioMap(raw, target)
    val batch = graft.text.Dsir.dsirLogWeights(raw, target).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val input = MemoryStream[(Long, String)]
    val out = graft.text.Dsir.streamingDsirScore(
      input.toDF().toDF("doc_id", "text"), ratio)
    val query = out.writeStream.format("memory").queryName("dsir_out")
      .outputMode("append").start()
    try {
      input.addData((0L, "apple pie apple tart"), (1L, "zebra okapi quagga"))
      query.processAllAvailable()
      input.addData((2L, "apple zebra mixed bag"), (3L, "lone"))
      query.processAllAvailable()
      val got = s.sql("SELECT doc_id, n_ngrams, log_weight FROM dsir_out")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      got.keySet shouldBe batch.keySet
      for ((id, (n, lw)) <- batch) {
        got(id)._1 shouldBe n
        got(id)._2 shouldBe lw +- 1e-9
      }
    } finally query.stop()
  }

  test("streaming space-saving heavy hitters hold the Metwally bounds") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    // 4 heavy tokens (40x each) + 120 light tokens (1-2x) through 2 shards
    // of capacity 16: far more distincts than counters, so eviction churns
    val tokens = Seq.tabulate(4, 40)((h, _) => s"heavy$h").flatten ++
      Seq.tabulate(120)(i => s"light$i") ++ Seq.tabulate(60)(i => s"light$i")
    // deterministic interleave so heavies are spread through the stream
    val mixed = tokens.zipWithIndex.sortBy { case (t, i) => (i * 131) % 253 }
      .map(_._1)
    val exact = mixed.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val input = MemoryStream[String]
    val out = StreamingSketch.streamingHeavyHitters(
      input.toDF().toDF("text"), shards = 2, capacity = 16)
    val query = out.writeStream.format("memory").queryName("hh_out")
      .outputMode("update").start()
    try {
      input.addData(mixed.grouped(25).map(_.mkString(" ")).toSeq: _*)
      query.processAllAvailable()
      val rows = s.sql("SELECT shard, token, count, err FROM hh_out").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
      // shard assignment replicated through the same Catalyst expression
      val shardOf = mixed.distinct.toDF("token")
        .select(col("token"), pmod(hash(col("token")), lit(2)).as("shard"))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      val nShard = exact.toSeq.groupBy { case (t, _) => shardOf(t) }
        .view.mapValues(_.map(_._2).sum).toMap
      // guarantee 1: count - err <= true <= count for every counter
      for ((sh, tok, cnt, err) <- rows) {
        withClue(s"shard $sh token $tok: ") {
          cnt should be >= exact(tok)
          (cnt - err) should be <= exact(tok)
        }
      }
      // guarantee 2: any token with true count > N_shard/capacity survives
      val present = rows.map(t => (t._1, t._2)).toSet
      for ((tok, c) <- exact; sh = shardOf(tok)
           if c > nShard(sh).toDouble / 16) {
        withClue(s"token $tok (count $c, shard $sh) must be present: ") {
          present should contain((sh, tok))
        }
      }
      // summaries stay bounded at capacity per shard
      rows.groupBy(_._1).values.foreach(_.length should be <= 16)
      // state persists across triggers: heavies keep accumulating
      input.addData(Seq.fill(10)("heavy0").mkString(" "))
      query.processAllAvailable()
      val cnt2 = s.sql(
        "SELECT max(count) FROM hh_out WHERE token = 'heavy0'").head().getLong(0)
      cnt2 should be >= (exact("heavy0") + 10)
      (cnt2 - exact("heavy0") - 10) should be <= rows
        .find(_._2 == "heavy0").map(_._4).getOrElse(0L)
    } finally query.stop()
  }

  test("stream and static banding agree: corpus bucket rows equal the batch band rows") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(5)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta")
    val docs = ((1L to 40L).map(i => i ->
        Seq.fill(3 + rnd.nextInt(12))(words(rnd.nextInt(words.size))).mkString(" ")) ++
      Seq(41L -> "", 42L -> "one")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    // (2, 30, 7) leaves two trailing hashes outside every band
    for ((k, numHashes, bands) <- Seq((3, 64, 16), (2, 30, 7))) {
      val stream = rows(StreamingDedup.corpusBuckets(docs, k = k,
          numHashes = numHashes, bands = bands).select("corpus_id", "band", "bucket"))
      val batch = rows(graft.text.Lsh.minhashBands(
        graft.text.Dedup.minhashIndex(docs, k = k, numHashes = numHashes),
        "sig", numHashes, bands, col("id")))
      stream.size shouldBe 42 * bands
      stream shouldBe batch
    }
    val vecs = (1L to 30L).map(i => i -> Seq.fill(8)(rnd.nextGaussian()))
      .toDF("vec_id", "embedding")
    for ((bands, planes, seed) <- Seq((8, 8, 7), (3, 12, 13))) {
      val stream = rows(StreamingDedup.corpusEmbeddingBuckets(vecs, bands = bands,
          planesPerBand = planes, seed = seed).select("corpus_id", "band", "bucket"))
      val batch = rows(graft.text.Lsh.explode(graft.text.Dedup.embeddingSigTable(
        vecs, "vec_id", "embedding", bands, planes, seed), col("__sigs"), col("id")))
      stream.size shouldBe 30 * bands
      stream shouldBe batch
    }
  }

  /** Batch-side expectation: EventOps.sessions keyed by (key, session_start_us). */
  private def EventOps_sessions(events: Seq[(String, Timestamp, Double)])
      : Map[(String, Long), (Long, Double)] = {
    val s = spark
    import s.implicits._
    graft.events.EventOps.sessions(
      events.map { case (k, t, v) => (k, t.getTime * 1000L, v) }
        .toDF("user_id", "ts_us", "value"),
      gapUs = 10L * 60 * 1000 * 1000, key = "user_id", ts = "ts_us")
      .collect()
      .map(r => (r.getAs[String]("user_id"), r.getAs[Long]("session_start")) ->
        ((r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))).toMap
  }
}
