package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Planted-skew harness (VERDICT r15 #6 / r14 #8): builds a 10x events
 * corpus twice — uniform keys vs ONE user holding 30% of all rows — and
 * measures the engine's skew-sensitive surfaces on both:
 *
 *   1. ev01 sessionization (window + agg on the user key): per-key work is
 *      bounded by the hot key's ABSOLUTE row count (a ~300k-row in-memory
 *      sort per task), so wall-clock must stay within 2x of uniform.
 *   2. A forced sort-merge enrichment join on the skewed key with AQE
 *      skew-join thresholds scaled to the fixture (the 256 MB default is
 *      sized for real clusters; the probe scales it down proportionally,
 *      same ratio to partition size a 100 TB run would see): asserts the
 *      plan actually contains a skew-split AQEShuffleRead AND wall-clock
 *      stays within 2x of uniform.
 *   3. dd03 MinHash near-dup with a planted hot LSH cluster: reports
 *      candidate/verified-pair counts to document that runtime tracks the
 *      (inherently quadratic) OUTPUT of a dup cluster, not a shuffle
 *      pathology — the bound no engine can beat (see SCALE.md).
 *
 * Dev probe in the test tree (like [[RegenGoldens]]) — run with
 * SPARK_GRAFT_SF_DIR pointing at the sf0.1 tables and `sbt "Test/runMain
 * graft.SkewProbe"`; results are recorded in SCALE.md's "Planted skew"
 * section.
 *
 * ==Division of labor vs the test suite (r18, VERDICT r17 #8)==
 * This probe is DEV-ONLY and TIMING-ONLY. Every plan-shape assertion it
 * once uniquely held — the three AQE skew-split preconditions (map-chunk
 * granularity, SMJ(Sort(stage),Sort(stage)) with a materialized profile,
 * forceOptimizeSkewedJoin past the downstream-exchange veto) and the
 * isSkewJoin final-plan marker — is pinned permanently in
 * `plans/ExtensionsAndSkewSpec` ("AQE skew-join split fires on a planted
 * hot key"), which runs in every `sbt test`. What remains here is what a
 * unit suite should NOT assert: wall-clock skew/uniform ratios on the
 * real sf0.1 corpus (host-dependent; the <2x PASS lines feed SCALE.md)
 * and the dd03 hot-cluster pair accounting (reporting, not a check). If
 * the probe and the spec ever disagree on plan shape, the spec is the
 * source of truth.
 */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = "/tmp/skewprobe"
    val spark = Tables.configure(SparkSession.builder().master("local[32]"), "32")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timed(label: String)(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[skewprobe] $label%-34s $secs%7.2f s  (rows=$n)")
      (secs, n)
    }

    // ---- fixtures: 10x replicated events, uniform keys vs 30% hot key ----
    val ev = Tables.events(spark, src)
      .select("event_id", "user_id", "ts_us", "value")
    val reps = spark.range(10).withColumnRenamed("id", "r")
    val uni = ev.crossJoin(reps)
      .select((col("event_id") + col("r") * 100000000L).as("event_id"),
        (col("user_id") + col("r") * 100000L).as("user_id"),
        col("ts_us"), col("value"))
    // deterministic 30% reassignment: every third event_id goes to user 0
    val skew = uni.withColumn("user_id",
      when(pmod(col("event_id"), lit(10)) < 3, lit(0L)).otherwise(col("user_id")))
    // 64 files => 64 map tasks: AQE can only split a skewed reduce
    // partition at MAP-OUTPUT granularity, so a single-file fixture (one
    // mapper) is categorically unsplittable — a real cluster has thousands
    // of mappers, the probe needs more than one
    uni.repartition(64).write.mode("overwrite").parquet(s"$out/events_uniform")
    skew.repartition(64).write.mode("overwrite").parquet(s"$out/events_skew")
    val evU = spark.read.parquet(s"$out/events_uniform")
    val evS = spark.read.parquet(s"$out/events_skew")
    val hotShare = evS.filter(col("user_id") === 0).count().toDouble / evS.count()
    println(f"[skewprobe] hot-key share ${hotShare * 100}%.1f%% of ${evS.count()} rows")

    // ---- 1. ev01 sessionization under key skew ----
    def sessionsCount(df: DataFrame): Long =
      graft.events.EventOps.sessions(df, gapUs = 14400000000L).count()
    sessionsCount(evU) // warm (codegen + scan)
    val (sesU, _) = timed("ev01 sessions uniform")(sessionsCount(evU))
    val (sesS, _) = timed("ev01 sessions skew(30%)")(sessionsCount(evS))
    val sesRatio = sesS / sesU
    println(f"[skewprobe] ev01 skew/uniform ratio ${sesRatio}%.2f  " +
      (if (sesRatio < 2.0) "PASS (<2x)" else "FAIL (>=2x)"))

    // ---- 2. forced-SMJ enrichment join: AQE skew split must fire ----
    // per-user profile joined back to every event on the skewed key; the
    // build side is tiny, so broadcast is disabled to force the SMJ shape a
    // large-large join has at 100 TB, and the AQE skew thresholds are
    // scaled to this fixture's partition sizes (default 256 MB / 64 MB
    // advisory are cluster-scale numbers)
    def enrichJoin(df: DataFrame): (Double, Boolean) = {
      val conf = spark.conf
      val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.forceOptimizeSkewedJoin",
        "spark.sql.files.maxPartitionBytes")
        .map(k => k -> conf.getOption(k))
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      // the join feeds a differently-keyed aggregation, so Spark would veto
      // the skew split to preserve the join's output partitioning unless
      // told the extra exchange is acceptable (it already exists here)
      conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      // one map task per fixture file: the default 128 MB packing would
      // coalesce the 64 small files into ~3 mappers, leaving the skewed
      // reduce partition with too few map-output chunks to split finely
      conf.set("spark.sql.files.maxPartitionBytes", "2m")
      try {
        // the profile is MATERIALIZED first: OptimizeSkewedJoin's pattern
        // is SMJ(Sort(shuffle-stage), Sort(shuffle-stage)) — an aggregate
        // between the Sort and the stage (inline groupBy) makes the whole
        // join ineligible, which is itself a finding worth pinning
        df.groupBy("user_id")
          .agg(count(lit(1)).as("n_ev"), avg("value").as("avg_v"))
          .write.mode("overwrite").parquet(s"$out/profile_tmp")
        val profile = spark.read.parquet(s"$out/profile_tmp")
        val joined = df.join(profile, "user_id")
          .groupBy(pmod(col("event_id"), lit(64)).as("b"))
          .agg(sum(col("value") * col("avg_v")).as("s"), sum("n_ev").as("n"))
        val t0 = System.nanoTime()
        // collect() (64 result rows) so THIS Dataset's QueryExecution runs —
        // count() would execute a separate plan and leave joined's
        // AdaptiveSparkPlanExec unexecuted (initial, no AQE re-plan to read)
        joined.collect()
        val secs = (System.nanoTime() - t0) / 1e9
        // the definitive marker: after AQE re-planning, a skew-handled SMJ
        // carries isSkewJoin=true (its shuffle reads were split). NOTE:
        // QueryStageExec nodes hide their plan from `children`, so the
        // traversal must recurse through .plan explicitly
        val finalPlan = joined.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan
          case p => p
        }
        def flatten(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[org.apache.spark.sql.execution.SparkPlan] = {
          val kids = p match {
            case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
              Seq(q.plan)
            case _ => p.children
          }
          p +: kids.flatMap(flatten)
        }
        val skewJoins = flatten(finalPlan).collect {
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
            if j.isSkewJoin => j
        }.size
        System.err.println(s"[skewprobe]   skew-handled SMJs in final plan: $skewJoins")
        (secs, skewJoins > 0)
      } finally saved.foreach { case (k, v) =>
        v.fold(conf.unset(k))(conf.set(k, _)) }
    }
    val (joinU, _) = enrichJoin(evU) // warm
    val (joinU2, skewSplitU) = enrichJoin(evU)
    val (joinS, skewSplitS) = enrichJoin(evS)
    println(f"[skewprobe] enrich join uniform ${joinU2}%.2f s (skew-split=$skewSplitU), " +
      f"skew ${joinS}%.2f s (skew-split=$skewSplitS), ratio ${joinS / joinU2}%.2f  " +
      (if (skewSplitS && joinS / joinU2 < 2.0) "PASS (split fired, <2x)"
       else "FAIL"))

    // ---- 3. dd03 with a planted hot LSH cluster ----
    // 2% of docs become near-dups of one template (shared 150-token head,
    // unique tail): the hot band-buckets make the candidate set — and the
    // OUTPUT — quadratic in the cluster, which is dd03's semantics, not a
    // pathology. Report counts so SCALE.md can state the bound honestly.
    val docs = Tables.documents(spark, src)
    val template = Array.tabulate(150)(i => s"tok${i * 7919 % 1000}").mkString(" ")
    val clustered = docs.withColumn("text",
      when(pmod(col("doc_id"), lit(50)) === 0,
        concat(lit(template + " "), substring(col("text"), 1, 200)))
        .otherwise(col("text")))
    clustered.write.mode("overwrite").parquet(s"$out/docs_hotcluster")
    val docsHot = spark.read.parquet(s"$out/docs_hotcluster")
    val clusterSize = docsHot.filter(col("doc_id") % 50 === 0).count()
    def dd03(df: DataFrame): Long =
      graft.text.Dedup.minhashNearDuplicates(df, k = 3, numHashes = 64,
        bands = 16, threshold = 0.3).count()
    dd03(docs) // warm
    val (ddU, pairsU) = timed("dd03 uniform")(dd03(docs))
    val (ddS, pairsS) = timed(s"dd03 hot-cluster($clusterSize docs)")(dd03(docsHot))
    val quad = clusterSize * (clusterSize - 1) / 2
    println(f"[skewprobe] dd03 pairs uniform=$pairsU hot=$pairsS " +
      f"(cluster-quadratic floor=$quad); time ratio ${ddS / ddU}%.2f; " +
      f"per-pair overhead ${(ddS - ddU) / math.max(1, pairsS - pairsU) * 1e6}%.1f us")
    spark.stop()
  }
}
