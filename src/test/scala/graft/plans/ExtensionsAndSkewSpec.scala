package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.Tables
import graft.ts.Skew

class ExtensionsAndSkewSpec extends AnyFunSuite with Matchers
    with graft.SparkTestSession {

  test("GraftExtensions registers rolling_hash for SQL") {
    // withExtensions only applies when a NEW SparkSession is built, so
    // detach the shared session, build a fresh one over the same context,
    // and restore afterwards
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val ext = Tables.configure(SparkSession.builder()
        .master("local[2]").appName("graft-ext-test")
        .withExtensions(new GraftExtensions), "2")
        .getOrCreate()
      import ext.implicits._
      Seq("hello").toDF("t").createOrReplaceTempView("tv")
      val viaSql = ext.sql("SELECT rolling_hash(t) AS h FROM tv").collect()(0).getLong(0)
      val expected = "hello".getBytes("UTF-8")
        .foldLeft(0L)((h, b) => h * graft.text.RollingHash.Base + (b & 0xff))
      viaSql shouldBe expected
    } finally {
      SparkSession.setActiveSession(shared)
      SparkSession.setDefaultSession(shared)
    }
  }

  test("SQL function surface: fingerprint/tokens/simhash/hamming/cosine") {
    val spark = this.spark // shared session registers GraftExtensions via conf
    import spark.implicits._
    Seq(("The  Quick Fox!", Seq(1.0, 0.0), Seq(1.0, 1.0)))
      .toDF("t", "va", "vb").createOrReplaceTempView("fx")
    val row = spark.sql(
      """SELECT canonical_fingerprint(t) AS fp, bpeish_token_count(t) AS n,
                simhash64(t) AS sh, hamming64(simhash64(t), simhash64(t)) AS hd,
                cosine_similarity(va, vb) AS cos
         FROM fx""").collect()(0)
    row.getAs[String]("fp") should have length 32
    row.getAs[Long]("n") shouldBe 4L // The / Quick / Fox / !
    row.getAs[Long]("hd") shouldBe 0L
    row.getAs[Double]("cos") shouldBe (1.0 / math.sqrt(2)) +- 1e-12
  }

  test("SQL function surface: hashed shingles / sorted-longs jaccard / uncovered tokens (r18)") {
    val spark = this.spark
    import spark.implicits._
    Seq(("a b c d", "a b c x")).toDF("ta", "tb").createOrReplaceTempView("fx18")
    val row = spark.sql(
      """SELECT jaccard_sorted_longs(hashed_word_shingles(ta, 2),
                                     hashed_word_shingles(tb, 2)) AS j,
                uncovered_tokens(split(ta, ' '), array(1), 2) AS kept
         FROM fx18""").collect()(0)
    // shingles(ta)={ab,bc,cd}, shingles(tb)={ab,bc,cx}: |∩|=2, |∪|=4
    row.getAs[Double]("j") shouldBe 0.5
    // start 1, k 2 covers positions 1..2 of [a,b,c,d] -> keep a and d
    row.getSeq[String](1) shouldBe Seq("a", "d")
  }

  test("bucketed tables join without an exchange") {
    val spark = this.spark
    import spark.implicits._
    import graft.io.TimeSeriesIO
    val obs = (1 to 400).map(i => ("k" + (i % 20), i.toLong, i.toDouble))
      .toDF("key", "ts_nanos", "value")
    val dims = (0 until 20).map(i => ("k" + i, s"name$i")).toDF("key", "name")
    TimeSeriesIO.writeBucketedObservations(obs, "obs_bucketed", 4)
    TimeSeriesIO.writeBucketedObservations(dims, "dims_bucketed", 4,
      key = "key", ts = "name")
    try {
      // co-located join: both sides bucketed on the join key with the same
      // bucket count — the plan must contain no shuffle exchange at all
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = TimeSeriesIO.readBucketedObservations(spark, "obs_bucketed")
        .join(TimeSeriesIO.readBucketedObservations(spark, "dims_bucketed"), "key")
      val physical = joined.queryExecution.executedPlan.toString
      physical should not include "Exchange"
      joined.count() shouldBe 400L
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("saltedJoin matches a plain join under a hot key") {
    val spark = this.spark
    import spark.implicits._
    val big = (1 to 1000).map(i => (if (i % 10 == 0) "cold" + i else "hot", i))
      .toDF("key", "v")
    val small = Seq(("hot", 100), ("cold10", 7)).toDF("key", "w")
    val plain = big.join(small, Seq("key")).agg(sum($"v" * $"w")).collect()(0).getLong(0)
    val salted = Skew.saltedJoin(big, small, "key", 8)
      .agg(sum($"v" * $"w")).collect()(0).getLong(0)
    salted shouldBe plain
  }

  test("AQE skew-join split fires on a planted hot key (SkewProbe preconditions pinned)") {
    // SOURCE OF TRUTH for the skew-split plan shape (r18): graft.SkewProbe
    // (a test-tree dev main, `Test/runMain graft.SkewProbe`) is
    // dev/timing-only and defers to this spec on any disagreement.
    // In-suite pin of the r16 SkewProbe finding (SCALE.md "Planted skew"):
    // the AQE skew split is a silent no-op unless THREE preconditions hold,
    // each encoded below — (1) the skewed reduce partition must be made of
    // >1 map-output chunks (one mapper per fixture file via a
    // maxPartitionBytes below the 4 MB file-open cost), (2) the plan shape
    // must be SMJ(Sort(shuffle-stage), Sort(shuffle-stage)) — an inline
    // aggregate under the sort makes the join ineligible, so the profile
    // side is MATERIALIZED to parquet first — and (3) when the join feeds a
    // differently-keyed exchange Spark vetoes the split to keep the join's
    // output partitioning unless forceOptimizeSkewedJoin is set.
    val spark = this.spark
    val out = java.nio.file.Files.createTempDirectory("graft-skewspec").toString
    val conf = spark.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.forceOptimizeSkewedJoin",
      "spark.sql.files.maxPartitionBytes")
      .map(k => k -> conf.getOption(k))
    try {
      // planted fixture: 400k events, HALF on user 0, rest over 2000 keys;
      // 32 files => 32 mappers (precondition 1, with maxPartitionBytes=2m)
      val ev = spark.range(400000).select(
        col("id").as("event_id"),
        when(pmod(col("id"), lit(10)) < 5, lit(0L))
          .otherwise(pmod(col("id"), lit(2000)) + 1).as("user_id"),
        (col("id") % 97).cast("double").as("value"))
      ev.repartition(32).write.mode("overwrite").parquet(s"$out/events")
      val evS = spark.read.parquet(s"$out/events")
      // precondition 2: materialize the per-user profile so both SMJ inputs
      // are plain shuffle stages
      evS.groupBy("user_id")
        .agg(count(lit(1)).as("n_ev"), avg("value").as("avg_v"))
        .write.mode("overwrite").parquet(s"$out/profile")
      val profile = spark.read.parquet(s"$out/profile")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // cluster-default 256 MB thresholds scaled to this fixture's
      // partition bytes (same ratio a 100 TB run sees at defaults)
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256k")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256k")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true") // precondition 3
      conf.set("spark.sql.files.maxPartitionBytes", "2m") // precondition 1
      val joined = evS.join(profile, "user_id")
        .groupBy(pmod(col("event_id"), lit(64)).as("b"))
        .agg(sum(col("value") * col("avg_v")).as("s"))
      // execute THIS Dataset so its AdaptiveSparkPlanExec re-plans (a
      // separate count() would leave the plan un-executed)
      joined.collect().length shouldBe 64
      val finalPlan = joined.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      // QueryStageExec hides its plan from `children` — recurse explicitly
      def flatten(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = {
        val kids = p match {
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
          case _ => p.children
        }
        p +: kids.flatMap(flatten)
      }
      val skewJoins = flatten(finalPlan).collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
          if j.isSkewJoin => j
      }
      withClue(s"final plan had no skew-handled SMJ:\n$finalPlan\n") {
        skewJoins should not be empty
      }
    } finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("saltedAggregate equals direct aggregation") {
    val spark = this.spark
    import spark.implicits._
    val df = (1 to 5000).map(i => ("k" + (i % 3), i.toDouble)).toDF("key", "v")
    val direct = df.groupBy("key").agg(sum("v").as("s"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val salted = Skew.saltedAggregate(df, "key", 8,
      partial = Seq(sum("v").as("ps"), count(lit(1)).as("pn")),
      finalAgg = Seq(sum("ps").as("s"), sum("pn").as("n")))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    salted shouldBe direct
  }
}
