package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestSession

/** The replay lifecycle contract ([[Replay]]): conf isolation, cleanup on
  * failure, no leftover views, no recompiled code on a repeated replay,
  * and a two-phase restart from one checkpoint — each on a small in-test
  * fixture. */
class ReplaySpec extends AnyFunSuite with Matchers with SparkTestSession {

  private val Partitions = "spark.sql.shuffle.partitions"
  private val TimeZone = "spark.sql.session.timeZone"
  private val dayUs = 86400000000L

  // day 0 of the fixtures: clear of epoch 0, the stream's initial
  // watermark, which drops a bucket labelled exactly there
  private val baseDay = 20000L

  /** (key, ts, value) rows at noon of each `days` entry. */
  private def fixture(key: String, days: Int*): DataFrame = {
    val s = spark
    import s.implicits._
    days.map(d => (key, (baseDay + d) * dayUs + dayUs / 2, 1.0))
      .toDF("key", "us", "value")
      .select(col("key"), timestamp_micros(col("us")).as("ts"), col("value"))
  }

  private def daily(stream: DataFrame): DataFrame =
    StreamingResample.tumblingModes(stream, dayUs, count(_),
      closedRight = false, stampRight = false, watermark = "2 days")

  /** Scratch dirs a replay named `prefix` left in java.io.tmpdir. */
  private def leftovers(prefix: String): Seq[String] = {
    val ls = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try ls.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(prefix)).toList
    finally ls.close()
  }

  test("a replay reads the parent's conf but never writes it") {
    val parentParts = spark.conf.get(Partitions)
    parentParts should not be "1"
    val tz = spark.conf.get(TimeZone)
    spark.conf.set(TimeZone, "America/New_York") // runtime, after creation
    try {
      var seen = Map.empty[String, String]
      Replay.run(spark, "graft_replayspec_conf_", "update", fixture("a", 0, 1)) {
        stream =>
          val child = stream.sparkSession.conf
          seen = Map("parent" -> spark.conf.get(Partitions),
            "child" -> child.get(Partitions), "tz" -> child.get(TimeZone))
          daily(stream)
      }.count() shouldBe 2
      seen("parent") shouldBe parentParts
      seen("child") shouldBe "1" // a few hundred bytes of fixture
      seen("tz") shouldBe "America/New_York"
      spark.conf.get(Partitions) shouldBe parentParts
    } finally spark.conf.set(TimeZone, tz)
  }

  test("the state-parallelism cap is always a positive int: Spark rejects anything else") {
    val other = spark.newSession()
    for (bad <- Seq("auto", "0", "-1"))
      an[IllegalArgumentException] should be thrownBy other.conf.set(Partitions, bad)
  }

  test("a failing replay or round trip removes its scratch dir and rethrows the same exception") {
    val boom = new IllegalStateException("boom")
    val prefix = "graft_replayspec_fail_"
    val stale = leftovers(prefix) // a killed earlier run's, if any
    intercept[IllegalStateException] {
      Replay.run(spark, prefix, "append", fixture("a", 0)) { _ => throw boom }
    } should be theSameInstanceAs boom
    leftovers(prefix) shouldBe stale

    intercept[IllegalStateException] {
      Replay.roundTrip(prefix) { dir =>
        fixture("a", 0).write.parquet(s"$dir/out")
        throw boom
      }
    } should be theSameInstanceAs boom
    leftovers(prefix) shouldBe stale

    // a failure inside the running stream surfaces from awaitTermination
    val e = intercept[StreamingQueryException] {
      Replay.run(spark, prefix, "append", fixture("a", 0)) { stream =>
        stream.select(assert_true(col("value") < 0, lit("in-stream boom")))
      }
    }
    e.getMessage should include("in-stream boom")
    leftovers(prefix) shouldBe stale
  }

  test("a replay registers no view and its result outlives the scratch dir") {
    val before = spark.catalog.listTables().collect().map(_.name).toSet
    val prefix = "graft_replayspec_view_"
    val stale = leftovers(prefix)
    for (mode <- Seq("complete", "update", "append")) {
      val out = Replay.run(spark, prefix, mode, fixture("a", 0, 0, 5)) { stream =>
        if (mode == "append") stream else daily(stream)
      }
      leftovers(prefix) shouldBe stale
      out.count() shouldBe (if (mode == "append") 3 else 2)
    }
    spark.catalog.listTables().collect().map(_.name).toSet shouldBe before
  }

  test("a second identical replay compiles no generated code") {
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    def replay(): Long = Replay.run(spark, "graft_replayspec_codegen_", "update",
      fixture("a", 0, 1, 5))(daily).count()
    replay() shouldBe 3
    val before = compiles.getCount
    replay() shouldBe 3
    compiles.getCount shouldBe before
  }

  test("phase 2 restarts from phase 1's checkpoint: late rows past the watermark drop, inside it merge") {
    // phase 1: days 0..9, so the recovered watermark is day 9 - 2 days;
    // phase 2: a row on day 2 (behind it: dropped) and one on day 8
    // (inside it: merged into the retained state of day 8)
    val out = Replay.run(spark, "graft_replayspec_restart_", "update",
        fixture("a", 0 until 10: _*), fixture("a", 2, 8))(daily)
      .groupBy(unix_micros(col("bucket_ts")).as("day_us"))
      .agg(max(col("value")).as("n"))
      .collect().map(r => (r.getLong(0) / dayUs - baseDay).toInt -> r.getLong(1)).toMap
    out shouldBe (0 until 10).map(d => d -> (if (d == 8) 2L else 1L)).toMap
  }
}
