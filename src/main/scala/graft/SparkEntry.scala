package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{DateTimeIndex, Frequency}
import graft.models.PerSeries
import graft.streaming.Replay
import graft.ts.{RollAlign, TimeSeriesOps => TS}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** events as observations: key=user_id, ts=ts_us (micros long), value. */
  private def obs(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(col("event_id"), col("user_id"), col("ts_us"), col("value"))

  private val dayUsTick = 86400000000L

  /** The pair source of cc01, dd20 and smp12: (id_a < id_b) with
    * distinct-token Jaccard >= 0.5 over the first 200 documents, which the
    * DuckDB oracles replay in SQL. Returns the token table and the pairs.
    * The cheap id order is tested before the Jaccard, and the streamed side
    * of the nested-loop join is spread over the cores (the slice arrives in
    * one scan partition). */
  private def jaccardSlicePairs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val toks = Tables.documents(s, dir).filter(col("doc_id") < 200)
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
    val a = toks.select(col("doc_id").as("id_a"), col("toks").as("ta"))
      .repartition(s.sparkContext.defaultParallelism)
    val b = toks.select(col("doc_id").as("id_b"), col("toks").as("tb"))
    val pairs = a.join(b, col("id_a") < col("id_b") &&
        try_divide(size(array_intersect(col("ta"), col("tb"))).cast("double"),
          size(array_union(col("ta"), col("tb"))).cast("double")) >= 0.5)
      .select("id_a", "id_b")
    (toks, pairs)
  }

  /** GOOG.csv fixture path, checkout-independent (ADVICE r16): prefer an
    * explicit repo root via SPARK_GRAFT_REPO, else extract the bundled
    * classpath copy to a temp file. The same resolved path is interpolated
    * into the ts53 oracle SQL, which DuckDB reads in a separate process
    * after this JVM exits — so the extracted file is NOT delete-on-exit.
    * Single source of truth (ADVICE r17): `src/main/resources/GOOG.csv` is
    * the ONLY copy — both the env branch and the classpath fallback
    * resolve to the same bytes by construction (the former r16 duplicate
    * under src/test/resources is deleted). */
  private lazy val googCsvPath: String = {
    val fromRepo = sys.env.get("SPARK_GRAFT_REPO")
      .map(_ + "/src/main/resources/GOOG.csv")
      .filter(p => new java.io.File(p).isFile)
    fromRepo.getOrElse {
      val in = getClass.getClassLoader.getResourceAsStream("GOOG.csv")
      require(in != null, "GOOG.csv not on classpath")
      // keep the exact file NAME: readYahooCsv derives the series key
      // prefix from it (reference YahooParser keys are "GOOG_Open" etc.)
      val f = java.nio.file.Files.createTempDirectory("graft_yahoo_")
        .resolve("GOOG.csv")
      try java.nio.file.Files.copy(in, f,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
      f.toString
    }
  }

  /** (md5 of newline-joined sorted lines, pair count) — the digest shape
    * behind dd15-dd17; `line` must render one pair per row. */
  private def pairDigest(pairs: DataFrame, line: Column): DataFrame =
    pairs.select(line.as("__line"))
      .agg(md5(array_join(sort_array(collect_list(col("__line"))), "\n")
          .cast("binary")).as("digest"),
        count(lit(1)).as("n_pairs"))

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

  /** Per-user daily mean joined with the cross-sectional daily mean
    * ("market") — the co-sampled two-series frame behind ts29/m24/m25/ts43.
    * The market side is one row per day; the join is un-hinted (AQE
    * broadcasts it iff it fits, same reasoning as seriesBeta). */
  private def dailyWithMarket(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("user_id"), unix_micros(date_trunc("DAY",
        timestamp_micros(col("ts_us")))).as("day_us"))
      .agg(avg("value").as("value"))
    val mkt = daily.groupBy(col("day_us")).agg(avg(col("value")).as("mkt"))
    daily.join(mkt, Seq("day_us"))
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

  /** Per-user daily mean in `(key STRING, day_us, value)` layout — the
    * shared input of the converter round-trip queries (ts50+). */
  private def dailyKeyed(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id").cast("string").as("key"),
        unix_micros(date_trunc("DAY", timestamp_micros(col("ts_us")))).as("day_us"))
      .agg(avg("value").as("value"))

  /** [lo, hi] day bounds (micros) from the RAW ts column: day truncation is
    * monotone, so trunc(min(ts)) == min(trunc(ts)) — the prelim bounds job
    * is a shuffle-free scalar column scan instead of re-running the whole
    * daily aggregation before the main job. (align/toSeries need a
    * driver-side DateTimeIndex, so one scalar collect is inherent to the
    * index-based API; this keeps it as cheap as it can be.) */
  private def dayBoundsUs(ev: DataFrame, ts: String = "ts_us"): (Long, Long) = {
    val row = ev.agg(min(col(ts)), max(col(ts))).collect()(0)
    (Math.floorDiv(row.getLong(0), dayUsTick) * dayUsTick,
      Math.floorDiv(row.getLong(1), dayUsTick) * dayUsTick)
  }

  private def dayIndexUs(lo: Long, hi: Long): graft.core.IrregularDateTimeIndex =
    graft.core.IrregularDateTimeIndex((lo to hi by dayUsTick).toArray)

  /**
   * Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
   * End-to-end slice per SURVEY §7.2, every layer touched: events → daily
   * resample per user → align to the full daily index (nulls where a user
   * had no events) → linear fill → 7-day rolling mean → per-key
   * ARIMA(1,0,1) fit + 10-step forecast (mapGroups) → forecast observations.
   */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val daily = TS.resampleCalendar(obs(spark, dir), "DAY", avg(_: Column),
      key = "user_id", ts = "ts_us", value = "value", tickNanos = 1000L)
      .withColumn("day_us", unix_micros(col("bucket_ts")))
    val (minUs, maxUs) = dayBoundsUs(obs(spark, dir))
    val index = dayIndexUs(minUs, maxUs) // micros units; index is unit-agnostic
    val aligned = TS.align(daily.select(col("user_id"), col("day_us"), col("value")),
      index, fillMethod = Some("linear"), key = "user_id", ts = "day_us", value = "value")
    val smoothed = TS.rollMean(aligned, 7, RollAlign.Right,
      key = "user_id", ts = "day_us", value = "value")
    graft.models.ModelOps.forecastArima(smoothed, 1, 0, 1, h = 10,
      key = "user_id", ts = "day_us", value = "value").toDF()
  }

  /** One per implemented operator from SURVEY.md §2. */
  // lazy val (ADVICE r15 #3): the digest twins look their surface up by
  // name at run time (the no-drift guarantee); hoisting the Map means that
  // lookup reuses one instance instead of rebuilding ~240 entries per twin
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------- relational / aggregation layer ----------------
    "q01_pricing_summary" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
          round(avg("l_quantity"), 6).as("avg_qty"),
          round(avg("l_extendedprice"), 6).as("avg_price"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),
    "q02_revenue_by_nation" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum("o_totalprice"), 2).as("revenue"), count(lit(1)).as("n_orders"))
    }),
    "q03_brand_volume" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val p = Tables.part(s, dir)
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy("p_brand")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
    }),
    "q04_priority_count" -> ((s, dir) => {
      Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("order_count"))
    }),

    // ---------------- time-series operators (SURVEY §2.5/2.6) ----------------
    "ts01_lag" -> ((s, dir) => {
      TS.lags(obs(s, dir), 2, trim = true, key = "user_id", ts = "ts_us", value = "value")
        .select("user_id", "ts_us", "value", "lag_1", "lag_2")
    }),
    "ts02_diff" -> ((s, dir) => {
      TS.differences(obs(s, dir), 1, key = "user_id", ts = "ts_us", value = "value")
        .select("user_id", "ts_us", "value")
    }),
    "ts03_rollmean" -> ((s, dir) => {
      TS.rollMean(obs(s, dir), 7, RollAlign.Right, key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), col("ts_us"), round(col("value"), 6).as("roll_mean"))
    }),
    "ts04_resample_day" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.withColumn("day_us", unix_micros(date_trunc("DAY", timestamp_micros(col("ts_us")))))
        .groupBy("user_id", "day_us")
        .agg(count(lit(1)).as("n"), round(avg("value"), 6).as("avg_value"),
          round(sum("value"), 4).as("sum_value"))
    }),
    "ts05_fill_locf" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("v", when(col("event_type") === "error", lit(null)).otherwise(col("value")))
        .select(col("event_id"), col("user_id"), col("ts_us"), col("v").as("value"))
      TS.fill(ev, "previous", key = "user_id", ts = "ts_us", value = "value")
        .select(col("event_id"), col("user_id"), col("ts_us"), col("value").as("filled"))
    }),
    "ts06_stats" -> ((s, dir) => {
      TS.seriesStats(obs(s, dir), key = "user_id", value = "value")
        .select(col("user_id"), col("n"), round(col("mean"), 6).as("mean"),
          round(col("stdev"), 6).as("stdev"), col("min"), col("max"))
    }),
    "ts07_returnrates" -> ((s, dir) => {
      // no rounding: IEEE division is bit-identical in Spark and DuckDB,
      // while round() ties on dyadic quotients differ (HALF_UP vs half-even)
      TS.returnRates(obs(s, dir), key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), col("ts_us"), col("value").as("ret"))
    }),
    "ts08_asof" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"), col("value"))
      TS.asofJoin(clicks, purchases, valueOut = "last_purchase",
        key = "user_id", ts = "ts_us", rightValue = "value")
        .select("event_id", "user_id", "ts_us", "last_purchase")
    }),
    "ts09_downsample" -> ((s, dir) => {
      TS.downsample(obs(s, dir), 10, 0, key = "user_id", ts = "ts_us", value = "value")
        .select("user_id", "ts_us", "value")
    }),
    "ts10_quotients" -> ((s, dir) => {
      TS.quotients(obs(s, dir), 1, key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), col("ts_us"), col("value").as("quot"))
    }),

    // ---------------- LLM-pipeline extensions ----------------
    "dd01_dedup_exact" -> ((s, dir) => {
      Tables.documents(s, dir)
        .groupBy("text")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_count"))
        .select(md5(col("text").cast("binary")).as("text_hash"), col("keep_id"), col("dup_count"))
    }),
    "tx01_text_stats" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_c"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("n_distinct_tokens"))
    }),

    // ---------------- more §2 operators, oracle-checked ----------------
    "ts11_fill_linear" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("v", when(col("event_type") === "error", lit(null)).otherwise(col("value")))
        .select(col("event_id"), col("user_id"), col("ts_us"), col("v").as("value"))
      TS.fill(ev, "linear", key = "user_id", ts = "ts_us", value = "value")
        .select(col("event_id"), col("user_id"), col("ts_us"), col("value").as("filled"))
    }),
    "ts12_fill_nearest" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("v", when(col("event_type") === "error", lit(null)).otherwise(col("value")))
        .select(col("event_id"), col("user_id"), col("ts_us"), col("v").as("value"))
      TS.fill(ev, "nearest", key = "user_id", ts = "ts_us", value = "value")
        .select(col("event_id"), col("user_id"), col("ts_us"), col("value").as("filled"))
    }),
    "ts13_rollsum_center" -> ((s, dir) => {
      TS.rollSum(obs(s, dir), 5, RollAlign.Center, key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), col("ts_us"), round(col("value"), 4).as("roll_sum"))
    }),
    "ts14_slice" -> ((s, dir) => {
      // 2024-01-10T00:00Z .. 2024-01-20T00:00Z in micros. The range predicate
      // goes on the RAW ts column (Tables.eventsSliceUs) so it lands in the
      // parquet scan's PushedFilters and prunes row groups; slicing the
      // derived ts_us would evaluate after a full scan.
      Tables.eventsSliceUs(s, dir, 1704844800000000L, 1705708800000000L)
        .select("event_id", "user_id", "ts_us", "value")
    }),
    "ts15_instants" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("ts_us"),
        col("event_type").as("key"), col("value"))
      TS.toInstants(ev, Seq("click", "error", "purchase", "signup", "view"),
        key = "key", ts = "ts_us", value = "value")
    }),
    "ts16_align_locf" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("user_id"), unix_micros(date_trunc("DAY",
          timestamp_micros(col("ts_us")))).as("day_us"))
        .agg(round(avg("value"), 6).as("value"))
      val (minUs, maxUs) = dayBoundsUs(Tables.events(s, dir))
      TS.align(daily, dayIndexUs(minUs, maxUs), Some("previous"),
        key = "user_id", ts = "day_us", value = "value")
    }),
    "ts17_autocorr" -> ((s, dir) => {
      TS.autocorr(obs(s, dir), Seq(1, 2), key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), round(col("acf_1"), 6).as("acf_1"),
          round(col("acf_2"), 6).as("acf_2"))
    }),
    "ts18_complete_days" -> ((s, dir) => {
      // restricted to 8 keys so complete instants actually exist in the data
      val daily = Tables.events(s, dir).filter(col("user_id") < 8)
        .groupBy(col("user_id"), unix_micros(date_trunc("DAY",
          timestamp_micros(col("ts_us")))).as("day_us"))
        .agg(round(avg("value"), 6).as("value"))
      TS.removeInstantsWithNaNs(daily, key = "user_id", ts = "day_us", value = "value")
    }),
    "ts19_resample_2h_closedright" -> ((s, dir) => {
      TS.resample(obs(s, dir), 7200000000L, sum, closedRight = true,
        stampRight = true, key = "user_id", ts = "ts_us", value = "value")
        .groupBy(col("ts_us")) // collapse per-user buckets for a compact result
        .agg(count(lit(1)).as("n_series"), round(sum("value"), 4).as("total"))
    }),
    "ts20_filter_instant" -> ((s, dir) => {
      // drop every timestamp bucket where any watched key breaches value>180
      val daily = Tables.events(s, dir).filter(col("user_id") < 8)
        .groupBy(col("user_id"), unix_micros(date_trunc("DAY",
          timestamp_micros(col("ts_us")))).as("day_us"))
        .agg(round(max("value"), 4).as("value"))
      TS.filterByInstant(daily, v => v <= 180.0, Seq(0L, 1L, 2L),
        key = "user_id", ts = "day_us", value = "value")
    }),
    "ts21_interval_diff" -> ((s, dir) => {
      // value minus the latest value at least 1 hour older, per user
      TS.differencesByInterval(obs(s, dir), 3600000000L,
        key = "user_id", ts = "ts_us", value = "value")
        .select(col("event_id"), col("user_id"), col("ts_us"), col("value").as("diff_1h"))
    }),
    "bd01_business_days" -> ((s, dir) => {
      import graft.core.{DateTimeIndex, Frequency, TimeUtils}
      val ev = Tables.events(s, dir)
        .withColumn("day_us", unix_micros(date_trunc("DAY", timestamp_micros(col("ts_us")))))
      // business-day grid derived INSIDE the job: the one-row min/max
      // aggregate feeds an executor-side BusinessDayFrequency index build
      // (no driver collect, no separate prelim job); the exploded grid is
      // broadcast-joined against the events.
      val gridOf = udf { (lo: Long, hi: Long) =>
        val start = TimeUtils.fromNanos(lo * 1000L, java.time.ZoneOffset.UTC)
        val end = TimeUtils.fromNanos(hi * 1000L, java.time.ZoneOffset.UTC)
        DateTimeIndex.uniformFromInterval(start, end, Frequency.businessDays(1))
          .toNanosArray.map(_ / 1000L)
      }
      val grid = ev.agg(min("day_us").as("lo"), max("day_us").as("hi"))
        .select(explode(gridOf(col("lo"), col("hi"))).as("day_us"))
      ev.join(broadcast(grid), Seq("day_us"))
        .groupBy(col("day_us"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("total"))
    }),

    // ---------------- model fits (SURVEY §2.8/2.9; not SQL-expressible,
    // driver records rows-only checks) ----------------
    "m01_arima_fit" -> ((s, dir) =>
      // coefficients flattened to scalar columns: the driver's pandas
      // comparator cannot sort array cells
      graft.models.ModelOps.fitArima(obs(s, dir), 1, 0, 1,
        key = "user_id", ts = "ts_us", value = "value").toDF()
        .select(col("key"), col("p"), col("d"), col("q"),
          try_element_at(col("coefficients"), lit(1)).as("intercept"),
          try_element_at(col("coefficients"), lit(2)).as("ar_1"),
          try_element_at(col("coefficients"), lit(3)).as("ma_1"),
          col("logLikelihood"), col("aic"), col("stationary"), col("invertible"))),
    "m02_ewma_fit" -> ((s, dir) =>
      graft.models.ModelOps.fitEwma(obs(s, dir),
        key = "user_id", ts = "ts_us", value = "value").toDF()),
    "m03_ar_fit" -> ((s, dir) =>
      // TRUE DuckDB oracle (r16): the AR(2) least-squares fit is a
      // 2-regressor OLS, replayed in SQL by the centered 2x2 normal
      // equations (same closed form the m31 oracle uses); + 0.0
      // normalizes any -0.0 a rounded coefficient could produce
      graft.models.ModelOps.fitAr(obs(s, dir), 2,
        key = "user_id", ts = "ts_us", value = "value").toDF()
        .select(col("key"), (round(col("c"), 6) + lit(0.0)).as("c"),
          (round(try_element_at(col("coefficients"), lit(1)), 6) + lit(0.0)).as("ar_1"),
          (round(try_element_at(col("coefficients"), lit(2)), 6) + lit(0.0)).as("ar_2"))),
    "m04_arima_forecast" -> ((s, dir) =>
      graft.models.ModelOps.forecastArima(obs(s, dir), 1, 0, 1, h = 5,
        key = "user_id", ts = "ts_us", value = "value").toDF()),
    "m05_kpss" -> ((s, dir) =>
      // full oracle: the Newey-West long-run variance, cumsum statistic and
      // the published-table piecewise-linear p interpolation all replay in
      // SQL (the automatic Schwert lag ceil(12*(n/100)^.25) included)
      graft.models.ModelOps.kpssAll(obs(s, dir),
        key = "user_id", ts = "ts_us", value = "value").toDF()
        .select(col("key").cast("long").as("user_id"),
          round(col("statistic"), 6).as("kpss_stat"),
          round(col("pValue"), 6).as("p_value"))),
    "m06_holtwinters_fit" -> ((s, dir) => {
      // weekly-seasonal HW on the per-user daily mean series
      val daily = TS.resampleCalendar(obs(s, dir), "DAY", avg(_: Column),
        key = "user_id", ts = "ts_us", value = "value", tickNanos = 1000L)
        .withColumn("day_us", unix_micros(col("bucket_ts")))
      graft.models.ModelOps.fitHoltWinters(daily, period = 7,
        key = "user_id", ts = "day_us", value = "value").toDF()
    }),
    "m07_garch_fit" -> ((s, dir) => {
      val rets = TS.returnRates(obs(s, dir),
        key = "user_id", ts = "ts_us", value = "value")
      graft.models.ModelOps.fitGarch(rets,
        key = "user_id", ts = "ts_us", value = "value").toDF()
    }),
    "m41_egarch_fit" -> ((s, dir) => {
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
    // ---- m43-m53 + qc03: frozen-digest twins of the rows-only optimizer
    // fits (VERDICT r14 #1). Each twin re-runs the EXACT same query
    // function (looked up by name, so the twin can never drift from the
    // surface it certifies) and reduces the result to one
    // (md5-of-sorted-lines, n_pairs) row vs an sf0.01-frozen constant —
    // any future fit regression trips the driver hash, not just a
    // recovery property.
    "m43_arima_fit_digest" -> ((s, dir) =>
      rowDigest(queries("m01_arima_fit")(s, dir))),
    "m44_ewma_fit_digest" -> ((s, dir) =>
      rowDigest(queries("m02_ewma_fit")(s, dir))),
    "m45_arima_forecast_digest" -> ((s, dir) =>
      rowDigest(queries("m04_arima_forecast")(s, dir))),
    "m46_hw_fit_digest" -> ((s, dir) =>
      rowDigest(queries("m06_holtwinters_fit")(s, dir))),
    "m47_garch_fit_digest" -> ((s, dir) =>
      rowDigest(queries("m07_garch_fit")(s, dir))),
    "m48_adf_digest" -> ((s, dir) =>
      rowDigest(queries("m09_adf")(s, dir))),
    "m49_autofit_digest" -> ((s, dir) =>
      rowDigest(queries("m10_arima_autofit")(s, dir))),
    "m50_arimax_digest" -> ((s, dir) =>
      rowDigest(queries("m12_arimax")(s, dir))),
    "m51_hw_forecast_digest" -> ((s, dir) =>
      rowDigest(queries("m16_hw_forecast")(s, dir))),
    "m52_ewma_forecast_digest" -> ((s, dir) =>
      rowDigest(queries("m17_ewma_forecast")(s, dir))),
    "m53_egarch_fit_digest" -> ((s, dir) =>
      rowDigest(queries("m41_egarch_fit")(s, dir))),
    "qc03_logit_digest" -> ((s, dir) =>
      rowDigest(queries("qc01_quality_logit")(s, dir))),
    "m08_ljungbox" -> ((s, dir) =>
      // full oracle: m18's autocovariance statistic plus the EXACT even-df
      // chi-squared survival function (df=10: exp(-q/2)*sum_{k<5}(q/2)^k/k!)
      graft.models.ModelOps.ljungBoxAll(obs(s, dir), lags = 10,
        key = "user_id", ts = "ts_us", value = "value").toDF()
        .select(col("key").cast("long").as("user_id"),
          round(col("statistic"), 6).as("lb_stat"),
          round(col("pValue"), 6).as("p_value"))),
    "m09_adf" -> ((s, dir) =>
      graft.models.ModelOps.adfAll(obs(s, dir),
        key = "user_id", ts = "ts_us", value = "value").toDF()),
    "m10_arima_autofit" -> ((s, dir) =>
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
    "m12_arimax" -> ((s, dir) => {
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
    "sp01_spline_series" -> ((s, dir) => {
      // series-layout pipeline: daily obs -> conform to index (NaN gaps) ->
      // spline fill kernel -> melt back to observations
      val daily = Tables.events(s, dir)
        .groupBy(col("user_id").cast("string").as("key"),
          unix_micros(date_trunc("DAY", timestamp_micros(col("ts_us")))).as("day_us"))
        .agg(avg("value").as("value"))
      val (minUs, maxUs) = dayBoundsUs(Tables.events(s, dir))
      val index = dayIndexUs(minUs, maxUs)
      val series = TS.toSeries(daily, index, key = "key", ts = "day_us", value = "value")
      val filled = TS.fillSpline(series)
      TS.fromSeries(filled, index, key = "key")
        .select(col("key"), col("ts_nanos").as("day_us"),
          round(col("value"), 6).as("value"))
    }),
    "m11_cochrane_orcutt" -> ((s, dir) => {
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
    }),

    // ---------------- dedup / similarity / text (LLM-pipeline extensions) ----------------
    "dd02_dedup_canonical" -> ((s, dir) =>
      graft.text.Dedup.exact(Tables.documents(s, dir), canonical = true)),
    "dd03_minhash_neardup" -> ((s, dir) =>
      graft.text.Dedup.minhashNearDuplicates(Tables.documents(s, dir),
        k = 3, numHashes = 64, bands = 16, threshold = 0.3)),
    "dd04_simhash_neardup" -> ((s, dir) =>
      graft.text.Dedup.simhashNearDuplicates(Tables.documents(s, dir), maxHamming = 6)),
    "dd05_ngram_jaccard" -> ((s, dir) => {
      val t = Tables.documents(s, dir).filter(col("doc_id") < 60)
        .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
      val a = t.select(col("doc_id").as("id_a"), col("toks").as("ta"))
      val b = t.select(col("doc_id").as("id_b"), col("toks").as("tb"))
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("jaccard",
          try_divide(size(array_intersect(col("ta"), col("tb"))).cast("double"),
            size(array_union(col("ta"), col("tb"))).cast("double")))
        .filter(col("jaccard") >= 0.65)
        // unrounded: int/int division is bit-exact in both engines, and
        // round-half ties on dyadic ratios differ (HALF_UP vs half-even)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    }),
    "dd06_embedding_neardup" -> ((s, dir) =>
      // synthetic embeddings are unclustered (max cosine ~0.3), so the
      // "near-dup" threshold is set low to exercise the banded-LSH pipeline
      // end-to-end with the library defaults; 8-bit bands bound candidates
      // at n²/(b·2^r) per band, and recall at this low threshold is the
      // honest ~8% the band math gives (real near-dups at 0.95+ recall ~99%)
      graft.text.Dedup.embeddingNearDuplicates(Tables.embeddings(s, dir),
        threshold = 0.2)),
    // ---- dd15-dd17: pair-set digests of the seeded-LSH dedup queries.
    // dd03/dd04/dd06 are deterministic but not SQL-expressible, so the
    // driver could only count their rows; these twins reduce each pair set
    // to (md5-of-sorted-lines, n_pairs) against a constant-SELECT oracle
    // frozen from the same sf0.01 goldens GoldenSpec pins — one drifted
    // pair flips the hash, making the dd surfaces driver-hash-checked.
    // Line format matches GoldenSpec ("%d,%d,%.6f" / "%d,%d,%d"): Java
    // HALF_UP at 6 dp, lexicographic sort (pure-ASCII lines, so UTF-8
    // byte order and Java string order agree).
    "dd15_minhash_digest" -> ((s, dir) =>
      pairDigest(graft.text.Dedup.minhashNearDuplicates(Tables.documents(s, dir),
        k = 3, numHashes = 64, bands = 16, threshold = 0.3),
        format_string("%d,%d,%.6f", col("id_a"), col("id_b"), col("jaccard")))),
    "dd16_simhash_digest" -> ((s, dir) =>
      pairDigest(graft.text.Dedup.simhashNearDuplicates(Tables.documents(s, dir),
        maxHamming = 6),
        format_string("%d,%d,%d", col("id_a"), col("id_b"), col("hamming")))),
    "dd17_embedding_digest" -> ((s, dir) =>
      pairDigest(graft.text.Dedup.embeddingNearDuplicates(Tables.embeddings(s, dir),
        threshold = 0.2),
        format_string("%d,%d,%.6f", col("id_a"), col("id_b"), col("cosine")))),
    // digest twins for the remaining deterministic rows-only surfaces
    // (same contract as dd15-dd17: frozen sf0.01 constants, one drifted
    // row flips the md5)
    "dd18_semdedup_digest" -> ((s, dir) =>
      pairDigest(graft.sim.SemDedup.semanticDuplicates(Tables.embeddings(s, dir),
        k = 8, threshold = 0.2),
        format_string("%d,%d,%d,%.6f", col("cluster"), col("id_a"),
          col("id_b"), col("cosine")))),
    "dd19_semdecon_digest" -> ((s, dir) =>
      pairDigest(graft.text.Dedup.semanticDecontaminate(
        Tables.embeddings(s, dir).filter(col("vec_id") >= 50),
        Tables.embeddings(s, dir).filter(col("vec_id") < 50),
        threshold = 0.2).select(col("vec_id"), col("label")),
        format_string("%d,%d", col("vec_id"), col("label")))),
    "sm06_lsh_digest" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      pairDigest(graft.sim.Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10),
        k = 5, planes = 4, probeBits = 2),
        format_string("%d,%d,%d,%.6f", col("query_id"), col("rank"),
          col("neighbor_id"), col("cosine")))
    }),
    "sm07_ivf_digest" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      pairDigest(graft.sim.Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10),
        k = 5, nlist = 8, nprobe = 4),
        format_string("%d,%d,%d,%.6f", col("query_id"), col("rank"),
          col("neighbor_id"), col("cosine")))
    }),
    "sm08_pq_digest" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      pairDigest(graft.sim.Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10),
        k = 5, m = 8, codebookSize = 16, rerank = 50),
        format_string("%d,%d,%d,%.6f", col("query_id"), col("rank"),
          col("neighbor_id"), col("cosine")))
    }),
    "smp11_kcenter_digest" -> ((s, dir) =>
      pairDigest(graft.sim.Embeddings.kCenterSample(Tables.embeddings(s, dir), 12)
        .select(col("rank").cast("long").as("rank"), col("vec_id"),
          round(col("radius"), 6).as("radius")),
        format_string("%d,%d,%.6f", col("rank"), col("vec_id"), col("radius")))),
    "sm01_knn_bruteforce" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.sim.Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
    }),
    "sm05_hard_negatives" -> ((s, dir) => {
      // contrastive hard-negative mining: nearest different-label corpus
      // vectors per query — broadcast-queries x corpus scan, exact cosine
      val emb = Tables.embeddings(s, dir)
      graft.sim.Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10), k = 5)
    }),
    "sm02_knn_lsh" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.sim.Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
        planes = 4, probeBits = 2)
    }),
    "sm03_knn_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.sim.Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
        nlist = 8, nprobe = 4)
    }),
    "tx02_quality" -> ((s, dir) =>
      // ratios unrounded: int/int divisions are bit-exact vs the oracle
      graft.text.TextFunctions.qualityScore(Tables.documents(s, dir))
        .select(col("doc_id"), col("n_tokens"),
          col("punct_ratio"), col("stopword_ratio"), col("quality_score"))),
    "tx03_langid" -> ((s, dir) =>
      graft.text.TextFunctions.langId(Tables.documents(s, dir))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("lang") === col("lang_pred"), 1L).otherwise(0L)).as("n_correct"))),
    "tx06_langid_perdoc" -> ((s, dir) =>
      // per-doc diagnostic: each document's per-language stopword scores and
      // prediction, so a tx03 aggregate mismatch pinpoints the flipped doc
      graft.text.TextFunctions.langScores(Tables.documents(s, dir))
        .select(col("doc_id"), col("lang"), col("lang_pred"),
          col("h_de"), col("h_en"), col("h_es"), col("h_fr"), col("h_zh"))),
    "tx07_redact" -> ((s, dir) =>
      // PII-style scrubbing: digit runs -> <NUM>, denylist tokens -> <PII>;
      // the redacted text is hash-compared so the full rewrite is checked
      graft.text.TextFunctions.redact(Tables.documents(s, dir))
        .select(col("doc_id"), col("n_redactions"),
          md5(col("redacted").cast("binary")).as("redacted_fp"))),
    "tx08_sample_hash" -> ((s, dir) =>
      // deterministic ~1/16 corpus sample by content-hash prefix —
      // reproducible under any partitioning, unlike seeded random sampling
      graft.text.TextFunctions.hashSample(Tables.documents(s, dir), "1")
        .select(col("doc_id"), col("lang"), col("source"))),
    "tx09_vocab_topk" -> ((s, dir) =>
      // top-50 corpus vocabulary — TakeOrderedAndProject, no global sort
      graft.text.TextFunctions.topKTokens(Tables.documents(s, dir), 50)),
    "dd08_decontaminate" -> ((s, dir) => {
      // test-set decontamination: train docs sharing any 3-shingle with the
      // deterministic holdout slice (doc_id % 50 == 0)
      val docs = Tables.documents(s, dir)
      graft.text.Dedup.decontaminate(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0), k = 3)
    }),
    "dd14_contamination_score" -> ((s, dir) => {
      // scored contamination report: per train doc, distinct 3-shingles,
      // holdout hits, overlap fraction (dd08's boolean as a triage score;
      // 0-overlap docs included — one left-join corpus pass)
      val docs = Tables.documents(s, dir)
      graft.text.Dedup.contaminationScore(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0), k = 3)
    }),
    "dd07_dup_stats" -> ((s, dir) =>
      // corpus-level dedup metrics per source: integer-sum ratios are
      // bit-exact vs the oracle, so compared unrounded
      Tables.documents(s, dir).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("text")).as("n_distinct"),
          try_divide(sum(col("n_chars")).cast("double"),
            count(lit(1)).cast("double")).as("avg_chars"))
        .withColumn("dup_rate", lit(1.0) -
          try_divide(col("n_distinct").cast("double"), col("n_docs").cast("double")))),
    "tx04_bpeish_tokens" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        graft.text.TextFunctions.bpeishTokenCount(col("text")).as("n_subtokens"))),
    "tx05_rolling_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        graft.text.TextFunctions.rollingHash(col("text")).as("fingerprint"))),
    "mm01_multimodal_meta" -> ((s, dir) =>
      graft.multimodal.Multimodal.assetsFromDocuments(Tables.documents(s, dir))
        .select(col("asset_id"), col("modality"),
          length(col("payload")).cast("long").as("n_bytes"), col("meta_duration_ms"))),
    "mm02_multimodal_features" -> ((s, dir) =>
      // byte_mean is an integer-sum / count ratio — bit-exact vs the oracle
      // unrounded (rounding would reintroduce round-half-tie mismatches);
      // entropy sums in a different order, so it IS rounded
      graft.multimodal.Multimodal.extractFeatures(
        graft.multimodal.Multimodal.assetsFromDocuments(Tables.documents(s, dir)))
        .select(col("asset_id"), col("modality"), col("n_bytes"),
          col("byte_mean"),
          round(col("byte_entropy"), 6).as("byte_entropy"), col("frames_sampled"))),
    "mm03_png_decode" -> ((s, dir) =>
      // REAL javax.imageio decode certification: deterministic PNGs are
      // encoded from a closed-form pixel formula, round-tripped through
      // ImageIO, and the decoded dims + exact integer pixel sums are
      // compared against the oracle's direct evaluation of the formula
      graft.multimodal.Multimodal.extractFeatures(
        graft.multimodal.Multimodal.pngAssetsFromDocuments(Tables.documents(s, dir)))
        .select(col("asset_id"), col("decoded_width"), col("decoded_height"),
          col("px_sum"), col("n_px"))),
    "mm04_wav_decode" -> ((s, dir) =>
      // REAL javax.sound.sampled decode certification (mm03's pattern for
      // audio): deterministic 16-bit PCM WAVs from a closed-form sample
      // formula, decoded through the JDK audio stack; frame count / rate /
      // channels / exact sample sums vs the oracle's formula evaluation
      graft.multimodal.Multimodal.extractFeatures(
        graft.multimodal.Multimodal.wavAssetsFromDocuments(Tables.documents(s, dir)))
        .select(col("asset_id"), col("decoded_samples"), col("sample_rate"),
          col("channels"), col("sample_sum"))),
    "mm09_spectral_tilt" -> ((s, dir) =>
      // integer-exact DC / Nyquist / total energy per 16-sample frame of
      // REALLY-decoded PCM (the +-1-coefficient DFT bins — no trig parity
      // risk); the oracle replays the closed-form sample formula
      graft.multimodal.Multimodal.audioSpectralTilt(
        graft.multimodal.Multimodal.wavAssetsFromDocuments(Tables.documents(s, dir)),
        window = 16)),
    "mm05_avi_decode" -> ((s, dir) =>
      // REAL RIFF/AVI container decode certification (mm03's pattern for
      // video): deterministic uncompressed BI_RGB DIB frames in a
      // hand-rolled standard AVI, parsed back by the RIFF chunk walker with
      // every-2nd-frame sampling; frame count / dims / exact sampled pixel
      // sums vs the oracle's direct evaluation of the pixel formula
      graft.multimodal.Multimodal.extractFeatures(
        graft.multimodal.Multimodal.aviAssetsFromDocuments(Tables.documents(s, dir)))
        .select(col("asset_id"), col("video_frames"), col("video_width"),
          col("video_height"), col("video_sampled"), col("video_px_sum"))),
    "mm08_mjpeg_decode" -> ((s, dir) =>
      // COMPRESSED video decode certification: MJPEG frames really decoded
      // through javax.imageio; metadata is closed-form (hash-exact) and a
      // decode failure drops the row, turning the oracle red. Pixel sums
      // are lossy-decoder-valued -> certified in the spec, not hashed.
      graft.multimodal.Multimodal.mjpegDecodeTable(Tables.documents(s, dir))
        .select(col("asset_id"), col("frames_total"), col("width"),
          col("height"), col("frames_sampled"))),
    "mm06_image_resize" -> ((s, dir) =>
      // REAL resize over REALLY-decoded pixels: ImageIO-decoded PNGs,
      // nearest-neighbor to 4x4 with the pinned floor index map, exact
      // resized pixel sums vs the oracle's evaluation of formula + map
      graft.multimodal.Multimodal.resizeGray(
        graft.multimodal.Multimodal.pngAssetsFromDocuments(Tables.documents(s, dir)),
        tw = 4, th = 4)),
    "mm07_audio_energy" -> ((s, dir) =>
      // REAL windowed feature over REALLY-decoded samples: 16-sample
      // frames of squared-sample sums (integer-exact energy profile)
      graft.multimodal.Multimodal.audioWindowEnergy(
        graft.multimodal.Multimodal.wavAssetsFromDocuments(Tables.documents(s, dir)),
        window = 16)),

    // ---------------- round-2 additions: EWMA transform/forecast, coverage
    // filters, serial-correlation + heteroskedasticity tests, HW forecast ----
    "ts22_ewma_smoothed" -> ((s, dir) =>
      // fixed-alpha smoothing: recurrence arithmetic mirrors the DuckDB
      // recursive-CTE oracle exactly, so values are compared unrounded
      graft.models.ModelOps.ewmaSmoothed(obs(s, dir), alpha = 0.3,
        key = "user_id", ts = "ts_us", value = "value").toDF()
        .select(col("key").cast("long").as("user_id"), col("ts").as("ts_us"),
          col("smoothed"))),
    "ts23_series_coverage" -> ((s, dir) =>
      // keep series observed before Jan 2 AND after Jan 29 (both filters)
      TS.filterEndingAfter(
        TS.filterStartingBefore(obs(s, dir), 1704153600000000L,
          key = "user_id", ts = "ts_us", value = "value"),
        1706486400000000L, key = "user_id", ts = "ts_us", value = "value")
        .select("user_id", "ts_us", "value")),
    "m13_durbin_watson" -> ((s, dir) =>
      graft.models.ModelOps.durbinWatsonAll(obs(s, dir),
        key = "user_id", ts = "ts_us", value = "value").toDF()
        .select(col("key").cast("long").as("user_id"),
          round(col("dw"), 6).as("dw"))),
    "m14_breusch_godfrey" -> ((s, dir) =>
      // full oracle: the m39 FWL statistic plus the exact df=2 chi-squared
      // survival function exp(-x/2)
      graft.models.ModelOps.breuschGodfreyAll(obs(s, dir), lags = 2,
        key = "user_id", ts = "ts_us", value = "value").toDF()
        .select(col("key").cast("long").as("user_id"),
          round(col("statistic"), 6).as("bg_stat"),
          round(col("pValue"), 6).as("p_value"))),
    "m15_breusch_pagan" -> ((s, dir) =>
      // full oracle: the m40 regr_r2 statistic plus the df=1 chi-squared
      // survival erfc(sqrt(x/2)), with erfc built from SQL primitives
      // (Taylor series below z=2, Lentz continued fraction above — both
      // agree with libm erfc to ~1e-12 relative)
      graft.models.ModelOps.breuschPaganAll(obs(s, dir),
        key = "user_id", ts = "ts_us", value = "value").toDF()
        .select(col("key").cast("long").as("user_id"),
          round(col("statistic"), 6).as("bp_stat"),
          round(col("pValue"), 6).as("p_value"))),
    "m16_hw_forecast" -> ((s, dir) => {
      val daily = TS.resampleCalendar(obs(s, dir), "DAY", avg(_: Column),
        key = "user_id", ts = "ts_us", value = "value", tickNanos = 1000L)
        .withColumn("day_us", unix_micros(col("bucket_ts")))
      graft.models.ModelOps.forecastHoltWinters(daily, period = 7, h = 7,
        key = "user_id", ts = "day_us", value = "value").toDF()
    }),
    "m17_ewma_forecast" -> ((s, dir) =>
      graft.models.ModelOps.forecastEwma(obs(s, dir), h = 5,
        key = "user_id", ts = "ts_us", value = "value").toDF()),
    "m19_kpss_stat" -> ((s, dir) =>
      // lags=0 KPSS: the long-run variance collapses to sse/n, making the
      // eta statistic pure cumsum algebra with an exact SQL oracle
      graft.models.ModelOps.kpssAll(obs(s, dir), regression = "c",
        key = "user_id", ts = "ts_us", value = "value", lags = 0).toDF()
        .select(col("key").cast("long").as("user_id"),
          round(col("statistic"), 6).as("kpss_stat"))),
    "m20_adf_stat" -> ((s, dir) =>
      // maxLag=0 Dickey-Fuller: a bivariate OLS whose t-ratio the oracle
      // reproduces with regr_* aggregates
      graft.models.ModelOps.adfAll(obs(s, dir), regression = "c",
        key = "user_id", ts = "ts_us", value = "value", maxLag = 0).toDF()
        .select(col("key").cast("long").as("user_id"),
          round(col("statistic"), 6).as("df_stat"))),
    "m42_adf_full" -> ((s, dir) =>
      // lag-2 augmented Dickey-Fuller, FULLY certified: the t-statistic
      // replays via two generated OLS chains (coefficient by FWL, standard
      // error from the auxiliary regression's RSS) and the MacKinnon (1994)
      // response-surface p-value via the SQL-primitive erfc
      graft.models.ModelOps.adfAll(obs(s, dir), regression = "c",
        key = "user_id", ts = "ts_us", value = "value", maxLag = 2).toDF()
        .select(col("key").cast("long").as("user_id"),
          round(col("statistic"), 6).as("df_stat"),
          round(col("pValue"), 6).as("p_value"))),
    "m39_bg_stat" -> ((s, dir) =>
      // Breusch-Godfrey n·R² statistic twin of m14 (lags=2 on y ~ 1+t):
      // the oracle replays the aux regression with Frisch-Waugh-Lovell —
      // partial [1,t] out of the lagged residuals, then a closed-form 2×2
      // no-intercept OLS, algebraically identical to the 4-regressor fit
      graft.models.ModelOps.breuschGodfreyAll(obs(s, dir), lags = 2,
        key = "user_id", ts = "ts_us", value = "value").toDF()
        .select(col("key").cast("long").as("user_id"),
          round(col("statistic"), 6).as("bg_stat"))),
    "m40_bp_stat" -> ((s, dir) =>
      // Breusch-Pagan n·R² statistic twin of m15: squared trend residuals
      // regressed back on the trend — bivariate, so R² = regr_r2 exactly
      graft.models.ModelOps.breuschPaganAll(obs(s, dir),
        key = "user_id", ts = "ts_us", value = "value").toDF()
        .select(col("key").cast("long").as("user_id"),
          round(col("statistic"), 6).as("bp_stat"))),
    // ---------------- seeded simulate→fit→recover certification queries
    // (models/Recovery.scala): deterministic tolerance booleans vs literal
    // simulation truths; the oracle side is a constant VALUES SELECT, which
    // makes the §2.8/§2.9 fit kernels hash-checkable by the driver ----------------
    "mr01_arima_recover" -> ((s, _) => graft.models.Recovery.arima(s)),
    "mr19_r_goldens" -> ((s, _) => graft.models.Recovery.rGoldens(s)),
    // mr21: same R anchors as mr19, but the published constants themselves
    // flow to the driver (echoed engine-side, literal in the oracle SQL) —
    // shrinks the self-frozen trust surface (VERDICT r16 #2)
    "mr21_r_constants" -> ((s, _) => graft.models.Recovery.rGoldenConstantsDf(s)),
    "mr20_egarch_recover" -> ((s, _) => graft.models.Recovery.egarch(s)),
    "mr02_ar_recover" -> ((s, _) => graft.models.Recovery.ar(s)),
    "mr03_ewma_recover" -> ((s, _) => graft.models.Recovery.ewma(s)),
    "mr04_hw_recover" -> ((s, _) => graft.models.Recovery.holtWinters(s)),
    "mr05_garch_recover" -> ((s, _) => graft.models.Recovery.garch(s)),
    "mr06_forecast_recover" -> ((s, _) => graft.models.Recovery.forecast(s)),
    "mr07_autofit_recover" -> ((s, _) => graft.models.Recovery.autofit(s)),
    "mr08_cochrane_recover" -> ((s, _) => graft.models.Recovery.cochraneOrcutt(s)),
    "mr09_arimax_recover" -> ((s, _) => graft.models.Recovery.arimax(s)),
    "mr10_stationarity_decisions" -> ((s, _) => graft.models.Recovery.stationarity(s)),
    "mr11_lm_test_decisions" -> ((s, _) => graft.models.Recovery.lmTests(s)),
    "mr12_spline_recover" -> ((s, _) => graft.models.Recovery.spline(s)),
    "mr13_var_recover" -> ((s, _) => graft.models.Recovery.varRecover(s)),
    "mr14_varp_recover" -> ((s, _) => graft.models.Recovery.varpRecover(s)),
    "mr15_granger_recover" -> ((s, _) => graft.models.Recovery.grangerRecover(s)),
    "mr16_order_recover" -> ((s, _) => graft.models.Recovery.orderRecover(s)),
    "mr17_irf_recover" -> ((s, _) => graft.models.Recovery.irfRecover(s)),
    "mr18_logit_recover" -> ((s, _) => graft.models.Recovery.logitRecover(s)),

    // ---------------- round-8: in-query recall certification of the
    // approximate sm/dd surface (the mr* pattern for ANN/near-dup — exact
    // answer computed in the same query, bounds hash-checked) ----------------
    "rc01_lsh_recall" -> ((s, dir) => graft.sim.Recall.lsh(s, dir)),
    "rc02_ivf_recall" -> ((s, dir) => graft.sim.Recall.ivf(s, dir)),
    "rc03_pq_recall" -> ((s, dir) => graft.sim.Recall.pq(s, dir)),
    "rc04_minhash_recall" -> ((s, dir) => graft.sim.Recall.minhash(s, dir)),
    "rc05_simhash_recall" -> ((s, dir) => graft.sim.Recall.simhash(s, dir)),
    "rc06_embneardup_recall" -> ((s, dir) => graft.sim.Recall.embedding(s, dir)),

    // ---------------- round-8: certified approximate aggregates — the
    // sketch toolbox (HLL / GK quantiles / count-min / Bloom) a 100 TB
    // pipeline uses where exact answers are unaffordable, each certified
    // in-query against the exact answer with error-bound booleans --------
    "smp03_mix_weights" -> ((s, dir) =>
      // domain-mix planning: per-source keep rates that hit target corpus
      // shares under a 30k-token budget (rate = min(1, share*budget/tokens))
      graft.text.TextFunctions.mixWeights(Tables.documents(s, dir),
        targetShares = Map("src0" -> 0.3, "src1" -> 0.25, "src2" -> 0.2,
          "src3" -> 0.15, "src4" -> 0.1), budgetTokens = 30000L)),
    "tx20_chunking" -> ((s, dir) =>
      // context-window chunking: 32-token windows advancing by 24 (8-token
      // overlap); every token position covered, narrow map+explode
      graft.text.TextFunctions.chunkDocs(Tables.documents(s, dir),
        window = 32, overlap = 8)),
    "tx21_packing_plan" -> ((s, dir) =>
      // sequence packing: per-source token streams cut into 32-token bins;
      // one running-sum window per source, integral div for bin ids
      graft.text.TextFunctions.packingPlan(Tables.documents(s, dir),
        window = 32)),
    "tx22_winnowing" -> ((s, dir) =>
      // MOSS winnowing: min polynomial 5-gram hash per 4-gram window,
      // distinct per doc; local fingerprints for substring-level dedup.
      // Certified on single-byte text only: the expression hashes UTF-8
      // bytes while DuckDB's ord() yields codepoints — they agree exactly
      // when octet_length = char length (the oracle gates identically)
      graft.text.TextFunctions.winnowingFingerprints(
        Tables.documents(s, dir).filter(col("text").isNotNull &&
          octet_length(col("text")) === length(col("text"))),
        k = 5, w = 4)),
    "dd12_winnow_duplication" -> ((s, dir) =>
      // substring-level dup signal: per-doc share of winnowing fingerprints
      // seen in other docs; fingerprint-keyed doc-freq join, never doc x doc
      // (single-byte gate: see tx22)
      graft.text.TextFunctions.winnowingDuplication(
        Tables.documents(s, dir).filter(col("text").isNotNull &&
          octet_length(col("text")) === length(col("text"))),
        k = 5, w = 4)),
    "qa01_psi_drift" -> ((s, dir) =>
      // corpus drift monitor: PSI of the source mix between deterministic
      // even/odd doc cohorts standing in for two snapshots
      graft.text.TextFunctions.distributionDrift(Tables.documents(s, dir),
        refFilter = pmod(col("doc_id"), lit(2)) === 0,
        curFilter = pmod(col("doc_id"), lit(2)) === 1)),
    "smp04_bottomk_sample" -> ((s, dir) =>
      // mergeable reservoir-equivalent: 50 smallest content hashes
      // (TakeOrderedAndProject - per-partition top-k, no global sort)
      graft.text.TextFunctions.bottomKSample(Tables.documents(s, dir), k = 50)
        .select(col("doc_id"), col("source"), col("sample_key"))),
    "smp06_stratum_cap" -> ((s, dir) =>
      // domain-cap curation: at most 20 docs per source, smallest content
      // hashes win — bounded two-phase top-K per stratum, never a
      // stratum-wide sort (the tx23 plan shape applied to sampling)
      graft.text.TextFunctions.stratumCapSample(Tables.documents(s, dir),
        cap = 20)
        .select(col("source"), col("doc_id"), col("sample_key"))),
    "qc02_classifier_metrics" -> ((s, dir) => {
      // classifier evaluation primitive: bucketed-AUC (tie-adjusted, over
      // a <= 1000-row histogram — never a corpus sort), Brier, accuracy;
      // here scoring the closed-form quality heuristic against the
      // curated-slice label, fully replayed by the DuckDB oracle
      val scored = graft.text.TextFunctions.qualityScore(Tables.documents(s, dir))
        .withColumn("label",
          when(col("source").isin("src0", "src1", "src2"), 1.0).otherwise(0.0))
      graft.models.Logistic.binaryMetrics(scored, "label", "quality_score")
    }),
    "qc01_quality_logit" -> ((s, dir) => {
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
    "smp10_kcenter_sample" -> ((s, dir) =>
      // greedy k-center diversity sample over the embedding corpus: k-1
      // broadcast-center passes, argmax via one aggregate each — the
      // coreset selection primitive; rc09 certifies the greedy on planted
      // clusters, so rows-only here
      graft.sim.Embeddings.kCenterSample(Tables.embeddings(s, dir), 12)
        .select(col("rank").cast("long").as("rank"), col("vec_id"),
          round(col("radius"), 6).as("radius"))),
    "rc09_kcenter_certified" -> ((s, dir) => graft.sim.Recall.kcenter(s, dir)),
    "smp09_ccnet_buckets" -> ((s, dir) =>
      // CCNet head/middle/tail perplexity tiers per source: per-doc bigram
      // LM perplexity, per-stratum exact quantile thresholds broadcast
      // back, one comparison map — no stratum-wide sort
      graft.text.TextFunctions.ccnetBuckets(Tables.documents(s, dir))),
    "smp07_dsir_weights" -> ((s, dir) => {
      // DSIR importance weights (Xie et al. 2023): hashed-ngram likelihood
      // ratio of the src0-src2 "target" slice vs the whole corpus. Bucket
      // tables broadcast (<= 4096 rows); one corpus pass per side; per-doc
      // scoring pre-aggregates (doc, bucket) before the broadcast join
      val docs = Tables.documents(s, dir)
      graft.text.Dsir.dsirLogWeights(docs,
          docs.filter(col("source").isin("src0", "src1", "src2")))
        .select(col("doc_id"), col("n_ngrams"),
          round(col("log_weight"), 6).as("log_weight"))
    }),
    "smp08_dsir_sample" -> ((s, dir) => {
      // Gumbel-top-k resampling over the DSIR weights: without-replacement
      // sample proportional to softmax(log_weight), deterministic via
      // md5-derived Gumbel noise (engine-reproducible, never RAND());
      // orderBy+limit = TakeOrdered, no full sort at scale
      val docs = Tables.documents(s, dir)
      graft.text.Dsir.dsirSample(docs,
          docs.filter(col("source").isin("src0", "src1", "src2")), k = 50)
        .select(col("doc_id"), round(col("log_weight"), 6).as("log_weight"),
          round(col("gumbel_key"), 6).as("gumbel_key"))
    }),
    "em06_pca_certified" -> ((s, dir) =>
      // PCA via the distributed Gramian (O(d^2) driver cost, constant in
      // corpus size) certified by its linear-algebra identities
      graft.sim.Embeddings.pcaCertified(s, dir)),
    "sd01_semantic_dedup" -> ((s, dir) =>
      // SemDeDup: k-means cluster the normalized embeddings, exact pairwise
      // cosine within clusters only (meaning-level dups at cluster-bounded
      // cost); threshold 0.2 for the unclustered synthetic space, same
      // reasoning as dd06; rc07 certifies recall + precision in-query
      graft.sim.SemDedup.semanticDuplicates(Tables.embeddings(s, dir),
        k = 8, threshold = 0.2)),
    "dd13_semantic_decontaminate" -> ((s, dir) =>
      // semantic decontamination: corpus survivors after dropping rows
      // whose exact cosine to any holdout (vec_id < 50) vector >= 0.2;
      // banded hyperplane LSH corpus x holdout candidates, exact verify.
      // rc08 certifies precision (theorem), recall, and the partition
      graft.text.Dedup.semanticDecontaminate(
        Tables.embeddings(s, dir).filter(col("vec_id") >= 50),
        Tables.embeddings(s, dir).filter(col("vec_id") < 50),
        threshold = 0.2)
        .select(col("vec_id"), col("label"))),
    "rc08_semdecon_recall" -> ((s, dir) => graft.sim.Recall.semdecon(s, dir)),
    "rc07_semdedup_recall" -> ((s, dir) =>
      // sd01 certification: co-cluster recall vs exact all-pairs on the
      // bounded vec_id<300 subset + verify-step precision theorem
      graft.sim.Recall.semdedup(s, dir)),
    "tx23_log_odds" -> ((s, dir) =>
      // Fightin'-Words weighted log-odds with informative Dirichlet prior:
      // top-5 tokens that distinguish each source from the rest
      graft.text.TextFunctions.logOddsKeywords(Tables.documents(s, dir))),
    "smp05_temperature_mix" -> ((s, dir) =>
      // temperature-scaled source mixture (alpha=0.7): the multilingual-LM
      // upweighting recipe; emits natural/temperature shares + resample factor
      graft.text.TextFunctions.temperatureMix(Tables.documents(s, dir))),
    "tx24_code_detect" -> ((s, dir) =>
      // code-vs-prose gate: regex-free symbol-ratio + polyglot keyword
      // signals, one codegen'd narrow projection
      graft.text.TextFunctions.codeDetect(Tables.documents(s, dir))),
    "tx25_fertility" -> ((s, dir) =>
      // tokenizer fertility per detected language: subword tokens per
      // whitespace word (the multilingual tokenizer-efficiency metric) —
      // composes two certified primitives (langId, bpeishTokenCount)
      graft.text.TextFunctions.langId(Tables.documents(s, dir))
        .withColumn("__words", size(split(col("text"), " ")))
        .withColumn("__sub", graft.text.TextFunctions.bpeishTokenCount(col("text")))
        .groupBy(col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__words")).cast("long").as("n_words"),
          sum(col("__sub")).cast("long").as("n_subtokens"))
        .withColumn("fertility", round(try_divide(
          col("n_subtokens").cast("double"), col("n_words").cast("double")), 6))),
    // tx26/tx27 coalesce NULL text to '' on BOTH sides (ADVICE r17): the
    // oracle's unnest-of-NULL-list would drop a null-text doc entirely
    // while the expression emits a null-signal row — a corpus containing
    // one null text would hash-mismatch despite both sides being "right"
    "tx26_ngram_repetition" -> ((s, dir) =>
      // Gopher Table-A1 n-gram repetition filter signals: top n-gram char
      // fraction (n=2..4) + duplicate n-gram char fraction (n=5..10), all
      // nine from ONE codegen'd pass per doc — exchange-free
      graft.text.TextFunctions.ngramRepetitionSignals(Tables.documents(s, dir)
        .withColumn("text", coalesce(col("text"), lit(""))))),
    "tx27_gopher_repetition_filter" -> ((s, dir) =>
      // the published Table-A1 threshold gate over tx26's signals: 0/1 flag
      // per cap + keep; composes with tx11's word-shape gopherFilter
      graft.text.TextFunctions.gopherRepetitionFilter(Tables.documents(s, dir)
        .withColumn("text", coalesce(col("text"), lit(""))))),
    "qa02_snapshot_diff" -> ((s, dir) => {
      // recrawl diff monitor: deterministic old/new cohorts of the corpus
      // (drop id%3==1 / add id%3==0, edit id%5==0) classified per source
      val docs = Tables.documents(s, dir)
      val oldSnap = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      val newSnap = docs.filter(pmod(col("doc_id"), lit(3)) =!= 1)
        .withColumn("text", when(pmod(col("doc_id"), lit(5)) === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      graft.text.TextFunctions.snapshotDiff(oldSnap, newSnap)
    }),
    "fh01_feature_hash" -> ((s, dir) =>
      // hashing-trick doc embeddings (64 power-of-two buckets, rolling-hash
      // tokens, L2-normalized), exploded to long form for the exact compare.
      // r21: posexplode the FUSED feature_hash_embedding expression directly —
      // the generator (outer = false) emits nothing for a NULL vector, which
      // IS the old `__norm > 0` drop, so the expensive kernel runs exactly
      // ONCE per row instead of the ~5 evaluations the pushed-down filter
      // chain paid (plans/r21/fh01_feature_hash_{before,after}.txt); rows
      // and values are identical by construction (bit-identical norm fold)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(graft.text.FeatureHashEmbedding.ofColumn(col("text"), 64))
            .as(Seq("bucket", "weight")))
        .select(col("doc_id"), col("bucket").cast("long").as("bucket"),
          round(col("weight"), 6).as("weight"))),
    "m31_var_fit" -> ((s, dir) =>
      // bivariate VAR(1) of (user daily series, market): closed-form 2x2
      // normal equations from one keyed covariance aggregate
      TS.varFit(dailyWithMarket(s, dir), key = "user_id", ts = "day_us",
        x = "value", y = "mkt")
        .select(col("user_id"), col("n_pairs"),
          round(col("a11"), 6).as("a11"), round(col("a12"), 6).as("a12"),
          round(col("c1"), 6).as("c1"),
          round(col("a21"), 6).as("a21"), round(col("a22"), 6).as("a22"),
          round(col("c2"), 6).as("c2"))),
    "m32_varp_fit" -> ((s, dir) =>
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
          col("lag").cast("long").as("lag"), round(col("coef"), 5).as("coef"))),
    "m33_varp_forecast" -> ((s, dir) =>
      // 5-step iterated VAR(2) point forecast from the m32 fit (forecasts
      // fed back in; future ts extrapolates the median observed step)
      graft.models.VectorAR.varpForecast(dailyTriple(s, dir), 2, 5,
        Seq("v", "cnt", "mkt"), key = "user_id", ts = "day_us")
        .select(col("key").cast("long").as("user_id"),
          col("step").cast("long").as("step"), col("ts").as("day_us"),
          // 5 dp like m32: the oracle replays the solve by different algebra
          col("eq"), round(col("value"), 5).as("value"))),
    "m35_varp_order" -> ((s, dir) =>
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
          round(col("hqic"), 5).as("hqic"))),
    "m38_varp_intervals" -> ((s, dir) =>
      // 5-step VAR(2) forecast with 95% normal-theory prediction bands
      // (MSE(h) = sum of phi Sigma phi' from the same streamed fit);
      // point values identical to m33 by construction — asserted in mr17
      graft.models.VectorAR.varpForecastIntervals(dailyTriple(s, dir), 2, 5,
        Seq("v", "cnt", "mkt"), key = "user_id", ts = "day_us")
        .select(col("key").cast("long").as("user_id"),
          col("step").cast("long").as("step"), col("ts").as("day_us"),
          col("eq"), round(col("value"), 5).as("value"),
          round(col("se"), 5).as("se"), round(col("lo"), 5).as("lo"),
          round(col("hi"), 5).as("hi"))),
    "m36_varp_irf" -> ((s, dir) =>
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
          round(col("irf_orth"), 5).as("irf_orth"))),
    "m37_varp_fevd" -> ((s, dir) =>
      // 5-step forecast-error variance decomposition of the same system;
      // shares sum to 1 per (user, variable) — asserted by mr17
      graft.models.VectorAR.varpFevd(dailyTriple(s, dir), 2, 5,
        Seq("v", "cnt", "mkt"), key = "user_id", ts = "day_us")
        .select(col("key").cast("long").as("user_id"), col("variable"),
          col("shock"), col("h").cast("long").as("h"),
          round(col("fevd"), 5).as("fevd"))),
    "m34_granger_varp" -> ((s, dir) =>
      // lag-2 Granger F (market -> user series) via restricted/unrestricted
      // OLS in the VectorAR kernel; the p=1 slice of this operator is
      // certified against the closed-form m25 statistic in mr15
      graft.models.VectorAR.grangerLagP(dailyWithMarket(s, dir), 2,
        key = "user_id", ts = "day_us", y = "value", x = "mkt")
        .select(col("key").cast("long").as("user_id"), col("n_obs"),
          // 5 dp like m32: the oracle replays both solves via olsCtes
          col("df1"), col("df2"), round(col("f_stat"), 5).as("f_stat"))),
    "ts48_periodogram" -> ((s, dir) =>
      // classical periodogram of each user's daily series at Fourier
      // frequencies k=1..8 (mean-centered; direct O(n*maxK) sums — exact
      // and engine-reproducible where an FFT's butterfly order isn't)
      TS.periodogram(dailyWithMarket(s, dir)
          .select(col("user_id"), col("day_us"), col("value")),
        maxK = 8, key = "user_id", ts = "day_us", value = "value")
        .select(col("user_id"), col("k"), col("n_obs"),
          round(col("power"), 6).as("power"),
          round(col("period"), 6).as("period"))),
    "m30_baseline_accuracy" -> ((s, dir) => {
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
    }),
    "qs01_hll_certified" -> ((s, dir) => graft.sketch.Sketches.hll(s, dir)),
    "qs02_quantile_certified" -> ((s, dir) => graft.sketch.Sketches.quantiles(s, dir)),
    "qs03_cms_certified" -> ((s, dir) => graft.sketch.Sketches.cms(s, dir)),
    "qs04_bloom_certified" -> ((s, dir) => graft.sketch.Sketches.bloom(s, dir)),
    "m18_ljungbox_stat" -> ((s, dir) =>
      // the Ljung-Box STATISTIC is SQL-expressible (autocovariance windows),
      // so this slice of m08 gets a hash-checked oracle; the p-value
      // (chi-squared CDF) stays on the rows-only m08 query
      graft.models.ModelOps.ljungBoxAll(obs(s, dir), lags = 10,
        key = "user_id", ts = "ts_us", value = "value").toDF()
        .select(col("key").cast("long").as("user_id"),
          round(col("statistic"), 6).as("lb_stat"))),
    "ts24_trim" -> ((s, dir) => {
      // values < 5 become nulls, then leading/trailing null runs are trimmed
      val o = obs(s, dir).withColumn("value",
        when(col("value") >= 5.0, col("value")))
      TS.trimTrailing(
        TS.trimLeading(o, key = "user_id", ts = "ts_us", value = "value"),
        key = "user_id", ts = "ts_us", value = "value")
        .select("user_id", "ts_us", "value")
    }),
    "ts25_fill_nocb" -> ((s, dir) => {
      val o = obs(s, dir).withColumn("value",
        when(col("value") >= 5.0, col("value")))
      TS.fill(o, "next", key = "user_id", ts = "ts_us", value = "value")
        .select("user_id", "ts_us", "value")
    }),
    "ts26_percentiles" -> ((s, dir) =>
      // exact per-key percentiles (linear interpolation) — the
      // quality-cutoff primitive; unrounded if engines agree bit-for-bit
      TS.seriesPercentiles(obs(s, dir), Seq(0.5, 0.9),
        key = "user_id", value = "value")),

    // ---------------- round-4 additions: dup clustering, repetition /
    // span-dup signals, embedding centroids + quantization, stratified
    // sampling, z-score outliers, rolling volatility ----------------
    "cc01_dup_clusters" -> ((s, dir) => {
      // pairs → connected components → canonical election: the step that
      // turns LSH pair output into an actual dedup decision. The pair
      // generator here is the SQL-expressible jaccard slice so the whole
      // chain (including the iterative CC) is hash-checked vs a recursive
      // CTE; production input would be minhashNearDuplicates pairs.
      val (toks, pairs) = jaccardSlicePairs(s, dir)
      graft.text.Dedup.dupClusters(toks.select("doc_id"), pairs)
    }),
    // ---------------- r18: cluster-level dedup decisions (the two steps a
    // production pipeline runs AFTER cc01's clustering): quality-aware
    // canonical election and leakage-free split assignment. Pair source is
    // the same SQL-expressible jaccard slice as cc01 so the full chain —
    // iterative CC plus the election/split — is hash-checked against a
    // recursive-CTE oracle; production input would be LSH pairs. ----------
    "dd20_cluster_prune" -> ((s, dir) => {
      val (toks, pairs) = jaccardSlicePairs(s, dir)
      // quality = distinct-token count: an integer signal, so the argmax
      // is trivially cross-engine-exact; swap in qualityScore in production
      graft.text.Dedup.clusterRepresentatives(
        toks.select(col("doc_id"), col("toks")), pairs,
        size(col("toks")).cast("long"))
    }),
    "smp12_leakage_free_split" -> ((s, dir) => {
      val (toks, pairs) = jaccardSlicePairs(s, dir)
      // modulo splitter so DuckDB can replay the assignment; the certified
      // property (cluster-atomic splits) holds for any splitter
      graft.text.Dedup.leakageFreeSplit(toks.select("doc_id"), pairs, nSplits = 10,
        splitOf = Some(c => pmod(c, lit(10))))
    }),
    "smp13_sequence_packing" -> ((s, dir) =>
      // GPT-style pack-then-chunk layout: global token offsets + first/last
      // packed sequence per doc; distributed two-phase cumsum (literal
      // quantile ranges, per-range window, broadcast base offsets)
      graft.text.Packing.sequencePacking(Tables.documents(s, dir),
        capacity = 256)),
    "smp14_packing_summary" -> ((s, dir) =>
      graft.text.Packing.packingSummary(Tables.documents(s, dir),
        capacity = 256)),
    "smp15_bin_packing" -> ((s, dir) =>
      // no-split next-fit bins, 100-doc id domains as the packing shards;
      // the oracle replays the same greedy rule as a recursive CTE
      graft.text.Packing.binPacking(Tables.documents(s, dir),
        capacity = 256, domainSize = 100)),
    "smp16_mixture_plan" -> ((s, dir) =>
      // per-source token allocation under a budget with an epoch cap;
      // src4 is deliberately unweighted (weight 0 -> alloc 0)
      graft.text.TextFunctions.mixturePlan(Tables.documents(s, dir),
        Map("src0" -> 0.4, "src1" -> 0.35, "src2" -> 0.15, "src3" -> 0.1),
        tokenBudget = 100000L, maxEpochs = 4.0)),
    "smp17_mixture_upsample" -> ((s, dir) =>
      // deterministic materialization of the same plan: floor(epochs)
      // copies per doc + an md5-selected fractional copy, no RNG
      graft.text.TextFunctions.mixtureUpsample(Tables.documents(s, dir),
        Map("src0" -> 0.4, "src1" -> 0.35, "src2" -> 0.15, "src3" -> 0.1),
        tokenBudget = 100000L, maxEpochs = 4.0)),
    "smp18_corpus_shuffle" -> ((s, dir) => {
      // r20: deterministic global training order over the upsampled stream
      // — every (doc, copy) gets a reproducible md5-ordered position; the
      // oracle replays it as row_number() over the same md5 ordering
      val up = graft.text.TextFunctions.mixtureUpsample(Tables.documents(s, dir),
        Map("src0" -> 0.4, "src1" -> 0.35, "src2" -> 0.15, "src3" -> 0.1),
        tokenBudget = 100000L, maxEpochs = 4.0)
      graft.text.Packing.corpusShuffle(up, Seq("doc_id", "copy"))
        .select(col("doc_id"), col("copy"), col("shuffle_key"), col("position"))
    }),
    "smp19_token_budget_sample" -> ((s, dir) =>
      // r20: reproducible ~20k-token prefix of the md5 shuffle order;
      // the boundary-straddling doc is included (offset-before < budget)
      graft.text.Packing.tokenBudgetSample(Tables.documents(s, dir),
        budget = 20000L)),
    "dd22_incremental_exact" -> ((s, dir) => {
      // daily-ingest exact dedup: docs < 250 are the persisted index, the
      // rest arrive as a batch flagged against index + earlier-in-batch
      val docs = Tables.documents(s, dir)
      val index = graft.text.Dedup.exactIndex(docs.filter(col("doc_id") < 250))
      graft.text.Dedup.exactIncremental(docs.filter(col("doc_id") >= 250), index)
    }),
    // incremental-minhash digest twin: the pair set of the incremental
    // pipeline on the 250-split MUST equal the committed dd03 golden
    // restricted to pairs touching the batch (equivalence is structural —
    // same seeded signatures/banding/verify; IncrementalDedupSpec asserts
    // it on a synthetic corpus). The frozen constant below is therefore
    // DERIVED from src/test/resources/goldens/dd03_minhash_neardup.csv
    // (21 of 25 pairs touch id >= 250), not self-frozen from a run.
    "dd23_incremental_minhash_digest" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val index = graft.text.Dedup.minhashIndex(docs.filter(col("doc_id") < 250))
      pairDigest(graft.text.Dedup.incrementalMinhashNearDuplicates(
        docs.filter(col("doc_id") >= 250), index,
        k = 3, numHashes = 64, bands = 16, threshold = 0.3),
        // normalize (min,max) so lines byte-match the dd03 golden's
        format_string("%d,%d,%.6f", least(col("id_a"), col("id_b")),
          greatest(col("id_a"), col("id_b")), col("jaccard")))
    }),
    "dd09_dup_spans" -> ((s, dir) =>
      // C4-style cross-document repeated spans: ratio of a doc's 5-gram
      // spans that appear in at least one other document
      graft.text.Dedup.duplicateSpans(Tables.documents(s, dir), k = 5)),
    "dd21_remove_dup_spans" -> ((s, dir) =>
      // Dolma/RefinedWeb boilerplate removal: drop every word covered by a
      // 5-gram that appears in >= 2 distinct docs, emit the cleaned text.
      // text coalesced to '' on both sides (tx26 precedent): a null text
      // would emit n_words=-1 here vs NULL in the oracle's left join
      graft.text.Dedup.removeDuplicatedSpans(Tables.documents(s, dir)
        .withColumn("text", coalesce(col("text"), lit(""))), k = 5)),
    "tx10_repetition" -> ((s, dir) =>
      // Gopher-style word-repetition signals; int/int ratios, unrounded
      graft.text.TextFunctions.repetitionSignals(Tables.documents(s, dir))),
    "em01_centroids" -> ((s, dir) =>
      graft.sim.Embeddings.centroids(Tables.embeddings(s, dir))),
    "em02_quantize8" -> ((s, dir) =>
      graft.sim.Embeddings.quantize8bit(Tables.embeddings(s, dir))),
    "smp01_stratified_sample" -> ((s, dir) =>
      // mixture weighting: content-hash sample at per-source target rates
      graft.text.TextFunctions.stratifiedSample(Tables.documents(s, dir),
        rates = Map("src0" -> 0.75, "src1" -> 0.75, "src2" -> 0.5,
          "src3" -> 0.5, "src4" -> 1.0), defaultRate = 0.25)
        .select(col("doc_id"), col("lang"), col("source"))),
    "ts27_outliers" -> ((s, dir) =>
      // z-score anomaly detection per user series
      TS.outliers(obs(s, dir), threshold = 2.5, key = "user_id", value = "value")
        .select(col("event_id"), col("user_id"), col("value"),
          round(col("z_score"), 6).as("z_score"))),
    "ts28_rollstd" -> ((s, dir) =>
      // 5-point rolling sample stddev (volatility), full windows only
      TS.rollStd(obs(s, dir), 5, RollAlign.Right,
        key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), col("ts_us"), round(col("value"), 6).as("roll_std"))),
    "ts29_beta" -> ((s, dir) => {
      // per-user beta/correlation vs the cross-sectional daily mean series
      val daily = Tables.events(s, dir)
        .groupBy(col("user_id"), unix_micros(date_trunc("DAY",
          timestamp_micros(col("ts_us")))).as("day_us"))
        .agg(avg("value").as("value"))
      TS.seriesBeta(daily, key = "user_id", ts = "day_us", value = "value")
        .select(col("user_id"), col("n_obs"),
          round(col("beta"), 6).as("beta"), round(col("r"), 6).as("r"))
    }),
    "ts30_decompose" -> ((s, dir) =>
      // additive seasonal decomposition, period 7 on series position
      TS.seasonalDecompose(obs(s, dir), 7,
        key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), col("ts_us"), round(col("trend"), 6).as("trend"),
          round(col("seasonal"), 6).as("seasonal"), round(col("resid"), 6).as("resid"))),
    "ts63_decompose_even" -> ((s, dir) =>
      // EVEN-period decomposition (r17): the 2x-period MA with half-weight
      // endpoints over period+1 rows — the R stats::decompose convention
      // for monthly/quarterly frequencies; period 4 on series position.
      // Rounded with a +1e-9 bias on BOTH sides: the even MA's
      // power-of-two denominator puts analytic values EXACTLY on 6-decimal
      // midpoints, where the engines' round() implementations legitimately
      // disagree (Spark rounds the exact BigDecimal of the double; DuckDB
      // multiplies by 1e6 first, which can cross the midpoint). The bias
      // moves every reachable rational off the midpoint by ~1e-9 — far
      // above cross-engine fp noise, far below the 5e-7 quantum — so both
      // engines always round the same way. (ts30's odd period never lands
      // on midpoints, hence no bias there.)
      TS.seasonalDecompose(obs(s, dir), 4,
        key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), col("ts_us"),
          round(col("trend") + 1e-9, 6).as("trend"),
          round(col("seasonal") + 1e-9, 6).as("seasonal"),
          round(col("resid") + 1e-9, 6).as("resid"))),
    "ts31_ccf" -> ((s, dir) => {
      // lead cross-correlation: does click activity anticipate view activity?
      val daily = Tables.events(s, dir)
        .groupBy(col("user_id"), unix_micros(date_trunc("DAY",
          timestamp_micros(col("ts_us")))).as("day_us"))
        .agg(avg(when(col("event_type") === "click", col("value"))).as("x"),
          avg(when(col("event_type") === "view", col("value"))).as("y"))
      TS.crossCorrelation(daily, 2, key = "user_id", ts = "day_us", x = "x", y = "y")
        .select(col("user_id"), col("n_obs"), round(col("ccf_0"), 6).as("ccf_0"),
          round(col("ccf_1"), 6).as("ccf_1"), round(col("ccf_2"), 6).as("ccf_2"))
    }),
    "ts32_rollmedian" -> ((s, dir) =>
      // 7-point rolling exact median (odd width -> a real element, unrounded)
      TS.rollMedian(obs(s, dir), 7, RollAlign.Right,
        key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), col("ts_us"), col("value").as("roll_med"))),
    "ts49_rollquantile" -> ((s, dir) =>
      // trailing-10 rolling p90 (nearest-rank: the 9th smallest, a real
      // element — unrounded, engine-exact; the standard latency monitor)
      TS.rollQuantile(obs(s, dir), 10, 0.9, RollAlign.Right,
        key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), col("ts_us"), col("value").as("roll_p90"))),
    "ts33_cusum" -> ((s, dir) =>
      // standardized-CUSUM mean-shift changepoint per user series
      TS.cusumChangepoint(obs(s, dir), key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), col("changepoint_ts"),
          round(col("cusum_stat"), 6).as("cusum_stat"))),
    "ev01_sessions" -> ((s, dir) =>
      // gap-based sessionization (4h inactivity closes a session)
      graft.events.EventOps.sessions(Tables.events(s, dir), gapUs = 14400000000L)
        .select(col("user_id"), col("session_no"), col("session_start"),
          col("session_end"), col("duration_us"), col("n_events"),
          round(col("sum_value"), 6).as("sum_value"))),
    "ev02_funnel" -> ((s, dir) =>
      // strictly-ordered view -> click -> purchase funnel per user
      graft.events.EventOps.funnel(Tables.events(s, dir),
        Seq("view", "click", "purchase"))
        .select(col("user_id"), col("t_1"), col("t_2"), col("t_3"), col("reached"))),
    "ev03_retention" -> ((s, dir) =>
      // cohort retention grid: first-active day x day offset -> active users
      graft.events.EventOps.retention(Tables.events(s, dir))),
    "ev11_conversion_latency" -> ((s, dir) =>
      // first-view -> first-later-purchase latency distribution: one
      // global aggregate over the user-cardinality funnel table
      graft.events.EventOps.conversionLatency(Tables.events(s, dir),
        "view", "purchase")),
    "ev12_interval_join" -> ((s, dir) => {
      // bucketized point-in-interval join (r17): views landing inside each
      // click's 2h attribution window, per user. The naive theta join is a
      // nested-loop scale killer; intervalJoin makes it an equi-join on
      // (key, time-bucket) + exact containment filter. Distinct intervals
      // so duplicate same-instant clicks collapse as in the oracle's GROUP BY
      val ev = Tables.events(s, dir)
      val win = 7200000000L
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us").as("start_us"),
          (col("ts_us") + lit(win)).as("end_us")).distinct()
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_us"))
      val matched = graft.events.EventOps.intervalJoin(views, clicks, bucketUs = win)
        .groupBy(col("user_id"), col("start_us"))
        .agg(count(lit(1)).as("n_views"))
      clicks.select("user_id", "start_us")
        .join(matched, Seq("user_id", "start_us"), "left")
        .select(col("user_id"), col("start_us"),
          coalesce(col("n_views"), lit(0L)).as("n_views"))
    }),
    "m21_theilsen" -> ((s, dir) =>
      // robust Theil-Sen slope/intercept per user series. 1e-9 grid
      // quantization makes the medians integer-exact (engines' interpolation
      // formulas differ in the last ulp on raw doubles, which at sf0.1
      // reliably lands a few of 1500 rows on any rounding boundary)
      graft.stats.RobustRegression.theilSen(obs(s, dir),
        key = "user_id", ts = "ts_us", value = "value", gridScale = Some(1e9))
        .select(col("user_id"), col("n"), round(col("slope"), 6).as("slope"),
          round(col("intercept"), 6).as("intercept"))),
    "tx11_gopher_filter" -> ((s, dir) =>
      // Gopher-style hard quality gate: signals + per-rule 0/1 flags + keep
      graft.text.TextFunctions.gopherFilter(Tables.documents(s, dir))),
    "tx12_bigram_topk" -> ((s, dir) =>
      // top-30 word bigrams (BPE merge-candidate table)
      graft.text.TextFunctions.topKBigrams(Tables.documents(s, dir), 30)),
    "sm04_knn_pq" -> ((s, dir) => {
      // product-quantization ANN: ADC scan over 8-byte codes + exact re-rank
      val emb = Tables.embeddings(s, dir)
      graft.sim.Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
        m = 8, codebookSize = 16, rerank = 50)
    }),

    // ---------------- round-5 additions: winsorize / OLS trend / rolling
    // envelope, session transition matrix, unigram-LM scoring, TF-IDF
    // keywords, per-cluster inertia ----------------
    "ts34_winsorize" -> ((s, dir) =>
      // per-key percentile clipping. The percentile INDEX math matched
      // bit-for-bit at sf0.01 (ts26), but at sf0.1 one series' interpolated
      // p95 differed in the last ulp — so the clipped values are rounded to
      // 6 decimals on both sides (untouched values round identically)
      TS.winsorize(obs(s, dir), 0.05, 0.95, key = "user_id", value = "value")
        .select(col("user_id"), col("ts_us"),
          round(col("value_winsorized"), 6).as("value_winsorized"))),
    "ts35_trend" -> ((s, dir) =>
      // per-key OLS trend over series position. The checked variant solves
      // the normal equations from exact integer sums on a 1e-6 value grid —
      // bit-identical across engines, unlike the streaming regr_* moments
      TS.linearTrendQuantized(obs(s, dir), gridScale = 1e6,
        key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), col("n_obs"), round(col("slope"), 6).as("slope"),
          round(col("intercept"), 6).as("intercept"))),
    "ts36_rollrange" -> ((s, dir) =>
      // 7-point rolling min/max/range envelope — exact, unrounded
      TS.rollRange(obs(s, dir), 7, RollAlign.Right,
        key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), col("ts_us"),
          col("roll_min"), col("roll_max"), col("roll_range"))),
    "ev04_transitions" -> ((s, dir) =>
      // within-session event-type Markov table (4h session gap); counts and
      // exact-int mean gaps, unrounded
      graft.events.EventOps.transitions(Tables.events(s, dir), gapUs = 14400000000L)),
    "tx13_unigram_logprob" -> ((s, dir) =>
      // corpus unigram-LM perplexity proxy per document (CCNet-style)
      graft.text.TextFunctions.unigramLogProb(Tables.documents(s, dir))),
    "tx14_tfidf_top" -> ((s, dir) =>
      // top-3 TF-IDF keywords per document, ranked on the rounded score
      graft.text.TextFunctions.tfidfTopTerms(Tables.documents(s, dir), 3)),
    "em03_inertia" -> ((s, dir) =>
      // per-label mean squared distance to the label centroid
      graft.sim.Embeddings.inertia(Tables.embeddings(s, dir))),
    "em07_silhouette" -> ((s, dir) =>
      // centroid-based simplified silhouette per label: O(n*k) point x
      // centroid distances, never point x point
      graft.sim.Embeddings.silhouette(Tables.embeddings(s, dir))),
    "m22_holt_smoothed" -> ((s, dir) =>
      // fixed-parameter Holt linear smoothing: recurrence arithmetic mirrors
      // the recursive-CTE oracle term-for-term, compared unrounded
      graft.models.ModelOps.holtSmoothed(obs(s, dir), alpha = 0.5, beta = 0.3,
        key = "user_id", ts = "ts_us", value = "value").toDF()
        .select(col("key").cast("long").as("user_id"), col("ts").as("ts_us"),
          col("level"), col("trend"))),
    "ts37_seasonal_strength" -> ((s, dir) =>
      // STL-era seasonal/trend strength diagnostics per series, period 7
      TS.seasonalStrength(obs(s, dir), 7, key = "user_id", ts = "ts_us",
        value = "value")
        .select(col("user_id"), col("n_obs"),
          round(col("seasonal_strength"), 6).as("seasonal_strength"),
          round(col("trend_strength"), 6).as("trend_strength"))),
    "ev05_session_stats" -> ((s, dir) =>
      // corpus-level session-shape distribution: exact percentiles over the
      // ev01 session summaries (one extra global aggregate)
      graft.events.EventOps.sessions(Tables.events(s, dir), gapUs = 14400000000L)
        .agg(count(lit(1)).as("n_sessions"),
          percentile(col("duration_us"), lit(0.5)).as("p50_duration_us"),
          percentile(col("duration_us"), lit(0.9)).as("p90_duration_us"),
          percentile(col("n_events"), lit(0.5)).as("p50_events"),
          round(avg(col("sum_value")), 6).as("avg_session_value"))),
    "q05_nation_pairs" -> ((s, dir) => {
      // TPC-H Q7-style two-sided dimension join: revenue by (supplier
      // nation, customer nation); small dims broadcast, fact joins un-hinted
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val su = Tables.supplier(s, dir)
      val n = Tables.nation(s, dir)
      val n1 = n.select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = n.select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(su), li("l_suppkey") === su("s_suppkey"))
        .join(broadcast(n1), su("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), c("c_nationkey") === col("c_nk"))
        .groupBy("supp_nation", "cust_nation")
        // revenue summed on the integer cent grid: per-item products are
        // deterministic but their SUM order is not, and at sf0.001 one group
        // landed exactly on a round(...,2) boundary. Integer-valued double
        // partials are exact in any order — engine-identical at every SF
        .agg(round(sum(round(
          col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100, 0)) / 100, 2)
          .as("revenue"), count(lit(1)).as("n_items"))
    }),
    "tx15_zipf" -> ((s, dir) =>
      // corpus-health check: Zipf slope of the vocabulary rank-frequency law
      graft.text.TextFunctions.zipfFit(Tables.documents(s, dir))
        .select(col("n_vocab"), round(col("zipf_slope"), 6).as("zipf_slope"),
          round(col("zipf_intercept"), 6).as("zipf_intercept"))),

    // ---------------- round-6 additions: drawdown / gap / entropy /
    // crossing diagnostics, shingle commonality, n-gram boilerplate,
    // quality-tier sampling, centroid separation, inter-event gaps, Q3 ----
    "ts38_drawdown" -> ((s, dir) =>
      // per-series max peak-to-trough decline + earliest trough instant;
      // max/subtraction are exact, so compared unrounded
      TS.maxDrawdown(obs(s, dir), key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), col("max_drawdown"),
          col("trough_ts").as("trough_ts_us"))),
    "ts39_gaps" -> ((s, dir) =>
      // sampling-gap diagnostics per series (micros); exact ints + the
      // interpolated median percentile ts26 proved engine-bit-identical
      TS.gapStats(obs(s, dir), key = "user_id", ts = "ts_us")),
    "ts40_entropy" -> ((s, dir) =>
      // 10-bin Shannon entropy of each series' value distribution
      TS.valueEntropy(obs(s, dir), bins = 10, key = "user_id", value = "value")),
    "ts41_crossings" -> ((s, dir) =>
      // mean-crossing count, above-mean count, longest above-mean run
      TS.meanCrossings(obs(s, dir), key = "user_id", ts = "ts_us", value = "value")),
    "dd10_shingle_commonality" -> ((s, dir) =>
      // per-doc fraction of distinct 3-shingles shared with any other doc:
      // a continuous near-duplication risk score; int-ratio, unrounded
      graft.text.TextFunctions.shingleCommonality(Tables.documents(s, dir), k = 3)),
    "tx16_top_ngrams" -> ((s, dir) =>
      // top-20 5-grams with doc frequency — boilerplate phrase detector
      graft.text.TextFunctions.topKNgrams(Tables.documents(s, dir), n = 5, k = 20)),
    "tx18_top_ngrams_sketched" -> ((s, dir) =>
      // frequent-candidate pre-filtered variant: identical result to tx16
      // whenever the true k-th count >= minCount (here the oracle applies
      // the same support floor), with a bounded-width sketch shuffle
      graft.text.TextFunctions.topKNgramsSketched(Tables.documents(s, dir),
        n = 5, k = 20, minCount = 3)),
    "smp02_quality_tiers" -> ((s, dir) =>
      // quality-tiered deterministic sampling: high keeps all, mid 1/4,
      // low 1/16, via the same content-hash bound as smp01
      graft.text.TextFunctions.qualityTierSample(Tables.documents(s, dir))),
    "em04_centroid_cosine" -> ((s, dir) =>
      // pairwise cosine similarity between label centroids (upper triangle)
      graft.sim.Embeddings.centroidSimilarity(Tables.embeddings(s, dir))
        .select(col("g1"), col("g2"), col("cosine"))),
    "ev06_interevent" -> ((s, dir) =>
      // idle-time-before-event-type distribution (gap attributed to the
      // later event's type); exact ints + interpolated median
      graft.events.EventOps.interEventStats(Tables.events(s, dir))),
    "ts42_mad" -> ((s, dir) =>
      // robust location/dispersion: exact median + MAD per series; p50
      // interpolation (fraction 0.5) is binary-exact, compared unrounded
      TS.madStats(obs(s, dir), key = "user_id", value = "value")),
    "ev07_bursts" -> ((s, dir) =>
      // peak events in any trailing 1h window per user (RANGE time frame)
      graft.events.EventOps.bursts(Tables.events(s, dir), windowUs = 3600000000L)),
    "q06_ship_priority" -> ((s, dir) => {
      // TPC-H Q3 shape: unshipped-order revenue ranking. Fact joins are
      // un-hinted (orders/lineitem both large at scale; AQE decides), the
      // ranking is a TakeOrderedAndProject over rounded revenue with an
      // orderkey tie-break — deterministic across engines
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .filter(col("c_mktsegment") === "BUILDING" &&
          col("o_orderdate") < lit("1998-06-01") &&
          col("l_shipdate") > lit("1998-06-01"))
        .groupBy(col("l_orderkey"),
          // o_orderdate is TIMESTAMP_NTZ; session TZ is UTC so the cast is identity
          unix_micros(col("o_orderdate").cast("timestamp")).as("orderdate_us"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // ---------------- round-6 cont.: PACF, cointegration, Granger
    // causality, rolling correlation vs the market series ----------------
    "m23_pacf" -> ((s, dir) =>
      // partial autocorrelation at lags 1-3 (Durbin-Levinson on the sample
      // ACF); the oracle unrolls the identical recursion in SQL
      TS.pacf(obs(s, dir), 3, key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), round(col("pacf_1"), 6).as("pacf_1"),
          round(col("pacf_2"), 6).as("pacf_2"),
          round(col("pacf_3"), 6).as("pacf_3"))),
    "m24_coint_eg" -> ((s, dir) =>
      // Engle-Granger: is each user's daily series cointegrated with the
      // cross-sectional daily mean ("market")? Residual DF t-ratio.
      TS.cointegrationEG(dailyWithMarket(s, dir), key = "user_id",
        ts = "day_us", y = "value", x = "mkt")
        .select(col("user_id"), col("n_obs"),
          round(col("eg_stat"), 6).as("eg_stat"))),
    "m25_granger" -> ((s, dir) =>
      // single-lag Granger F: does yesterday's market improve the AR(1)
      // prediction of each user's daily mean?
      TS.grangerF(dailyWithMarket(s, dir), key = "user_id",
        ts = "day_us", y = "value", x = "mkt")
        .select(col("user_id"), col("n_obs"),
          round(col("granger_f"), 6).as("granger_f"))),
    "ts43_rollcorr" -> ((s, dir) =>
      // 7-day rolling correlation of each user's daily mean vs the market
      TS.rollCorr(dailyWithMarket(s, dir), 7, RollAlign.Right,
        key = "user_id", ts = "day_us", x = "value", y = "mkt")
        .select(col("user_id"), col("day_us"),
          round(col("roll_corr"), 6).as("roll_corr"))),

    // ---------------- round-6 cont.: mean-reversion, rank statistics,
    // engagement, C4 chunk dedup, bigram LM, as-of ----------------
    "ts44_halflife" -> ((s, dir) =>
      // AR(1) phi + mean-reversion half-life per user
      TS.halfLife(obs(s, dir), key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), col("n_pairs"), round(col("phi"), 6).as("phi"),
          round(col("half_life"), 6).as("half_life"))),
    "ts45_spearman" -> ((s, dir) =>
      // Spearman rank correlation of each user's daily mean vs the market
      TS.spearmanCorr(dailyWithMarket(s, dir), key = "user_id",
        x = "value", y = "mkt")
        .select(col("user_id"), col("n_obs"),
          round(col("spearman_rho"), 6).as("spearman_rho"))),
    "ts46_asof" -> ((s, dir) => {
      // as-of join of raw events to each user's daily-mean series (value of
      // the most recent day bucket at or before the event) — the oracle is
      // DuckDB's native ASOF JOIN, so the operator's full semantics are
      // hash-checked, not just the differencing slice (ts21)
      val daily = TS.resampleCalendar(obs(s, dir), "DAY", avg(_: Column),
        key = "user_id", ts = "ts_us", value = "value", tickNanos = 1000L)
        .select(col("user_id"), unix_micros(col("bucket_ts")).as("ts_us"),
          col("value"))
      TS.asofJoin(obs(s, dir).select("user_id", "ts_us", "value"), daily,
        key = "user_id", ts = "ts_us", rightValue = "value")
        .select(col("user_id"), col("ts_us"), col("value"),
          round(col("asof_value"), 6).as("asof_value"))
    }),
    "m26_mann_kendall" -> ((s, dir) =>
      // Mann-Kendall monotone-trend test per user: S and Var(S) are
      // integer-exact, tau/z one deterministic division each
      graft.models.ModelOps.mannKendallAll(obs(s, dir),
        key = "user_id", ts = "ts_us", value = "value").toDF()
        .select(col("key").cast("long").as("user_id"), col("s"),
          col("nPairs").as("n_pairs"), round(col("tau"), 6).as("tau"),
          col("varS").as("var_s"), round(col("z"), 6).as("z"))),
    "ev08_stickiness" -> ((s, dir) =>
      // DAU/WAU engagement stickiness per 7-epoch-day window
      graft.events.EventOps.stickiness(Tables.events(s, dir))
        .select(col("week_no"), col("wau"), col("n_active_days"),
          round(col("avg_dau"), 6).as("avg_dau"),
          round(col("stickiness"), 6).as("stickiness"))),
    "ev09_top_paths" -> ((s, dir) =>
      // 20 most common first-3-event session paths (4h session gap)
      graft.events.EventOps.topPaths(Tables.events(s, dir),
        gapUs = 14400000000L, n = 3, k = 20)),
    "ev10_decay_score" -> ((s, dir) =>
      // recency-weighted activity score, 7-day half-life from the global
      // latest event (one broadcast scalar + one keyed aggregation)
      graft.events.EventOps.decayScore(Tables.events(s, dir),
        halfLifeUs = 604800000000L)),
    "dd11_chunk_dedup" -> ((s, dir) =>
      // C4-style corpus chunk dedup: 20-token chunks, keep first occurrence
      graft.text.Dedup.dedupChunks(Tables.documents(s, dir), 20)
        .select(col("doc_id"), col("n_chunks"), col("n_kept"),
          md5(col("kept_text").cast("binary")).as("kept_md5"))),
    "tx17_bigram_logprob" -> ((s, dir) =>
      // corpus bigram-LM conditional perplexity proxy per document
      graft.text.TextFunctions.bigramLogProb(Tables.documents(s, dir))),
    "tx19_perplexity_gate" -> ((s, dir) =>
      // CCNet-style LM quality gate: keep docs whose bigram perplexity is
      // at most 30 (corpus median ≈ 29.5 at sf0.01 — a non-trivial split);
      // the flag compares the ROUNDED perplexity, engine-stable
      graft.text.TextFunctions.lmPerplexityGate(Tables.documents(s, dir),
        maxPerplexity = 30.0)),

    // ---------------- round-6 cont.: drift/LRD/OU diagnostics, data
    // quality, embedding health ----------------
    "m27_ks_drift" -> ((s, dir) =>
      // first-half vs second-half two-sample KS per user; D's numerator is
      // integer-exact, the division deterministic — compared unrounded
      TS.ksDrift(obs(s, dir), key = "user_id", ts = "ts_us", value = "value")),
    "ts47_hurst" -> ((s, dir) =>
      // aggregated-variance Hurst exponent over block sizes 1..16
      TS.hurst(obs(s, dir), key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), col("n_scales"),
          round(col("hurst"), 6).as("hurst"))),
    "m28_ou_fit" -> ((s, dir) =>
      // closed-form Ornstein-Uhlenbeck (AR(1) discretization) per user
      TS.ouFit(obs(s, dir), key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), col("n_pairs"),
          round(col("kappa"), 6).as("kappa"),
          round(col("theta"), 6).as("theta"),
          round(col("sigma"), 6).as("sigma"))),
    "dq01_benford" -> ((s, dir) =>
      // Benford first-digit total-variation deviation per user
      TS.benfordDeviation(obs(s, dir), key = "user_id", value = "value")
        .select(col("user_id"), col("n_obs"),
          round(col("benford_tvd"), 6).as("benford_tvd"))),
    "em05_dim_stats" -> ((s, dir) =>
      // per-dimension moments: the feature-collapse detector
      graft.sim.Embeddings.dimStats(Tables.embeddings(s, dir))),
    // -------- converter / IO round-trip certification rows (r16): the 12
    // SURVEY §2 operators that previously had only ScalaTest specs each get
    // a driver-hash-checked row (VERDICT r15 directive #1). All have TRUE
    // DuckDB oracles — the round trips land back on SQL-expressible frames.
    "ts50_series_roundtrip" -> ((s, dir) => {
      // toSeries (scatter to ARRAY<DOUBLE>, NaN gaps) then fromSeries
      // (posexplode melt, NaN drop) is the identity on the observations
      // that exist: certifies toObservationsDataFrame semantics
      // (reference TimeSeriesRDD.scala:419-443)
      val daily = dailyKeyed(s, dir)
      val (lo, hi) = dayBoundsUs(Tables.events(s, dir))
      val index = dayIndexUs(lo, hi)
      val series = TS.toSeries(daily, index, key = "key", ts = "day_us", value = "value")
      TS.fromSeries(series, index, key = "key")
        .select(col("key"), col("ts_nanos").as("day_us"),
          round(col("value"), 6).as("value"))
    }),
    "ts56_find_series" -> ((s, dir) => {
      // findSeries (point lookup, driver-side array) and collectAsTimeSeries
      // (whole-panel collect) on the three lowest keys; both melted back to
      // observations (collect side drops the NaN gaps) and unioned with a
      // source tag (reference TimeSeriesRDD.scala:96-107)
      val daily = dailyKeyed(s, dir)
      val keep = Seq("0", "1", "2")
      val (lo, hi) = dayBoundsUs(Tables.events(s, dir))
      val index = dayIndexUs(lo, hi)
      val nanos = index.toNanosArray
      val found = keep.flatMap { k =>
        TS.findSeries(daily, k, key = "key", ts = "day_us", value = "value")
          .map { case (t, v) => (k, t, v, "find") }
      }
      val series = TS.toSeries(daily.filter(col("key").isin(keep: _*)),
        index, key = "key", ts = "day_us", value = "value")
      val (keys, mat) = TS.collectAsTimeSeries(series, key = "key")
      val collected = keys.zip(mat).toSeq.flatMap { case (k, arr) =>
        arr.zipWithIndex.collect { case (v, i) if !v.isNaN => (k, nanos(i), v, "collect") }
      }
      val s2 = s
      import s2.implicits._
      (found ++ collected).toDF("key", "day_us", "value", "src")
        .withColumn("value", round(col("value"), 6))
    }),
    "ts57_map_series" -> ((s, dir) => {
      // mapSeries (whole-vector demean, NaN-aware) composed with
      // mapSeriesWithKey (key-dependent scale) on the series layout
      // (reference TimeSeriesRDD.scala:249-260, TimeSeries.scala:340)
      val daily = dailyKeyed(s, dir)
      val (lo, hi) = dayBoundsUs(Tables.events(s, dir))
      val index = dayIndexUs(lo, hi)
      val series = TS.toSeries(daily, index, key = "key", ts = "day_us", value = "value")
      // subtract the series minimum (NaN-aware): min is order-independent
      // and exact, so the oracle's window min reproduces it bit-for-bit
      // (a mean would depend on summation order at the 6-dp knife edge)
      val demeaned = TS.mapSeries(series, { arr =>
        val present = arr.filter(!_.isNaN)
        val m = if (present.isEmpty) 0.0 else present.min
        arr.map(v => if (v.isNaN) v else v - m)
      }, key = "key")
      val scaled = TS.mapSeriesWithKey(demeaned,
        (k, arr) => arr.map(_ * (k.toLong % 3 + 1)), key = "key")
      TS.fromSeries(scaled, index, key = "key")
        .select(col("key"), col("ts_nanos").as("day_us"),
          round(col("value"), 6).as("value"))
    }),
    "ts59_lag_spec" -> ((s, dir) =>
      // per-key lag specification: key "1" keeps the original with 2 lags,
      // key "2" drops the original with 1 lag, key "3" keeps with 1 lag,
      // unlisted keys pass through untouched (reference TimeSeries.scala:
      // 58-158 / Lag.scala:25-129 lagsPerColumn)
      TS.lags(dailyKeyed(s, dir),
        Map("1" -> (true, 2), "2" -> (false, 1), "3" -> (true, 1)),
        key = "key", ts = "day_us", value = "value")
        .select(col("key"), col("day_us"), round(col("value"), 6).as("value"),
          round(col("lag_1"), 6).as("lag_1"), round(col("lag_2"), 6).as("lag_2"))),
    "ts60_upsample" -> ((s, dir) => {
      // upsample the daily panel onto a 12-hourly index: original instants
      // keep their value, interleaved new instants are null (reference
      // UnivariateTimeSeries.scala:350-373 upsample semantics)
      val daily = dailyKeyed(s, dir)
      val (lo, hi) = dayBoundsUs(Tables.events(s, dir))
      val half = dayUsTick / 2
      val dense = graft.core.IrregularDateTimeIndex((lo to hi by half).toArray)
      TS.upsample(daily, dense, fillMethod = None,
        key = "key", ts = "day_us", value = "value")
        .select(col("key"), col("day_us"), round(col("value"), 6).as("value"))
    }),
    "ts61_fill_zero_value" -> ((s, dir) => {
      // fill("zero") and fill("value", -1) over the aligned (null-gap)
      // daily panel (reference UnivariateTimeSeries.scala fillValue/zero)
      val daily = dailyKeyed(s, dir)
      val (lo, hi) = dayBoundsUs(Tables.events(s, dir))
      val index = dayIndexUs(lo, hi)
      val aligned = TS.align(daily, index, fillMethod = None,
        key = "key", ts = "day_us", value = "value")
      val z = TS.fill(aligned, "zero", key = "key", ts = "day_us", value = "value")
        .select(col("key"), col("day_us"), col("value").as("v_zero"))
      val c = TS.fill(aligned, "value", fillValue = -1.0,
        key = "key", ts = "day_us", value = "value")
        .select(col("key"), col("day_us"), col("value").as("v_const"))
      z.join(c, Seq("key", "day_us"))
        .select(col("key"), col("day_us"), round(col("v_zero"), 6).as("v_zero"),
          round(col("v_const"), 6).as("v_const"))
    }),
    "m55_ar_filter" -> ((s, dir) =>
      // TimeSeriesFilter trait surface: per-user AR(1) fit, then
      // removeTimeDependentEffects through the trait (first p entries pass
      // through unchanged) — the oracle replays the OLS via regr_slope/
      // regr_intercept and the residual recurrence in SQL
      graft.models.ModelOps.arFilterResiduals(obs(s, dir), 1,
        key = "user_id", ts = "ts_us", value = "value").toDF()
        .select(col("key"), col("ts").as("ts_us"),
          round(col("residual"), 6).as("residual"))
    ),
    "ts51_io_parquet_roundtrip" -> ((s, dir) => {
      // parquet + _index sidecar round trip (reference
      // saveAsParquetDataFrame / timeSeriesRDDFromParquet:
      // TimeSeriesRDD.scala:498-551): write series layout + index tag,
      // read both back, melt, and assert the parsed index matches
      val daily = dailyKeyed(s, dir)
      val (lo, hi) = dayBoundsUs(Tables.events(s, dir))
      val index = dayIndexUs(lo, hi)
      val series = TS.toSeries(daily, index, key = "key", ts = "day_us", value = "value")
      // per-run scratch dir (ADVICE r16): a fixed path derived from the SF
      // dir raced concurrent runs and was never cleaned up
      Replay.roundTrip("graft_ts51_") { path =>
        graft.io.TimeSeriesIO.writeSeriesParquet(series, index, path)
        val (back, backIdx) = graft.io.TimeSeriesIO.readSeriesParquet(s, path)
        TS.fromSeries(back, backIdx, key = "key")
          .select(col("key"), col("ts_nanos").as("day_us"),
            round(col("value"), 6).as("value"),
            lit(backIdx.tag == index.tag).as("index_match"))
      }
    }),
    "ts52_io_csv_roundtrip" -> ((s, dir) => {
      // CSV (key,v0,v1,...) + _index sidecar round trip (reference CSV
      // save/load: TimeSeriesRDD.scala:750-780)
      val daily = dailyKeyed(s, dir)
      val (lo, hi) = dayBoundsUs(Tables.events(s, dir))
      val index = dayIndexUs(lo, hi)
      val series = TS.toSeries(daily, index, key = "key", ts = "day_us", value = "value")
      Replay.roundTrip("graft_ts52_") { path =>
        graft.io.TimeSeriesIO.writeSeriesCsv(series, index, path)
        val (back, backIdx) = graft.io.TimeSeriesIO.readSeriesCsv(s, path)
        TS.fromSeries(back, backIdx, key = "key")
          .select(col("key"), col("ts_nanos").as("day_us"),
            round(col("value"), 6).as("value"),
            lit(backIdx.tag == index.tag).as("index_match"))
      }
    }),
    "ts53_yahoo_parse" -> ((s, dir) =>
      // Yahoo OHLCV CSV parse of the GOOG fixture (reference
      // parsers/YahooParser.scala:24-48): per-file key prefixing, 6 stacked
      // fields, reverse-chronological input — the oracle re-reads the same
      // file in DuckDB and unpivots
      graft.io.TimeSeriesIO.readYahooCsv(s, googCsvPath)
        .select(col("key"), (col("ts_nanos") / 1000L).cast("long").as("ts_us"),
          round(col("value"), 6).as("value"))),
    "ts54_indexed_row_matrix" -> ((s, dir) => {
      // instants pivot -> MLlib IndexedRowMatrix (reference
      // toIndexedRowMatrix: TimeSeriesRDD.scala:456-486): per-row (= per
      // index location) NaN-aware stats plus the matrix dims
      // capped at the 300 lowest keys: the pivot goes one column per key,
      // and a 1500-column codegen'd pivot at sf0.1 is bench cost without
      // extra certification value (all SFs <= 0.02 keep every key)
      val daily = dailyKeyed(s, dir).filter(col("key").cast("long") < 300)
      val (lo, hi) = dayBoundsUs(Tables.events(s, dir))
      val index = dayIndexUs(lo, hi)
      val keys = daily.select("key").distinct().collect()
        .map(_.getString(0)).sortBy(_.toLong)
      val instants = TS.toInstants(daily, keys.toSeq, key = "key",
        ts = "day_us", value = "value")
      val irm = TS.toIndexedRowMatrix(instants, index, ts = "day_us")
      val nRows = irm.numRows(); val nCols = irm.numCols()
      val s2 = s
      import s2.implicits._
      irm.rows.map { r =>
        val present = r.vector.toArray.filter(!_.isNaN)
        (r.index, present.length.toLong, present.min, present.max)
      }.toDF("loc", "n_present", "row_min", "row_max")
        .select(col("loc"), col("n_present"),
          round(col("row_min"), 6).as("row_min"),
          round(col("row_max"), 6).as("row_max"),
          lit(nRows).as("n_rows_total"), lit(nCols).as("n_cols"))
    }),
    "ts55_row_matrix" -> ((s, dir) => {
      // zero-filled instants -> MLlib RowMatrix (reference toRowMatrix:
      // TimeSeriesRDD.scala:456-466): rows are unindexed, so the
      // certification output is the multiset of per-row stats (the driver
      // compare sorts rows)
      val daily = dailyKeyed(s, dir).filter(col("key").cast("long") < 300)
      val (lo, hi) = dayBoundsUs(Tables.events(s, dir))
      val index = dayIndexUs(lo, hi)
      val keys = daily.select("key").distinct().collect()
        .map(_.getString(0)).sortBy(_.toLong)
      val aligned = TS.align(daily, index, fillMethod = Some("zero"),
        key = "key", ts = "day_us", value = "value")
      val instants = TS.toInstants(aligned, keys.toSeq, key = "key",
        ts = "day_us", value = "value")
      val rm = TS.toRowMatrix(instants, ts = "day_us")
      val s2 = s
      import s2.implicits._
      rm.rows.map { v =>
        val a = v.toArray
        (v.numNonzeros.toLong, a.min, a.max)
      }.toDF("n_nonzero", "row_min", "row_max")
        .select(col("n_nonzero"), round(col("row_min"), 6).as("row_min"),
          round(col("row_max"), 6).as("row_max"))
    }),
    "ts58_index_union" -> ((s, dir) => {
      // DateTimeIndex.union / simplify on a fixed (data-independent) trio:
      // two overlapping daily calendars merge into ONE uniform run, an
      // interleaved half-day instant splits it, and the two trailing
      // instants coalesce into one irregular segment (reference
      // DateTimeIndexUtils.scala:114-153) — 4 segments total
      import java.time.{ZonedDateTime, ZoneOffset}
      def d(m: Int, day: Int, h: Int = 0) =
        ZonedDateTime.of(2024, m, day, h, 0, 0, 0, ZoneOffset.UTC)
      val idx1 = graft.core.DateTimeIndex.uniform(d(1, 1), 31,
        graft.core.DayFrequency(1))
      val idx2 = graft.core.DateTimeIndex.uniform(d(1, 20), 22,
        graft.core.DayFrequency(1))
      val idx3 = graft.core.DateTimeIndex.irregular(
        Seq(d(1, 15, 12), d(2, 20), d(3, 1)))
      val u = graft.core.DateTimeIndex.union(Seq(idx1, idx2, idx3))
      val segs = u match {
        case h: graft.core.HybridDateTimeIndex => h.indices.length
        case _ => 1
      }
      val s2 = s
      import s2.implicits._
      u.toNanosArray.zipWithIndex.toSeq
        .map { case (n, i) => (i.toLong, n / 1000L) }
        .toDF("loc", "ts_us")
        .withColumn("n_segments", lit(segs.toLong))
    }),
    "ts62_series_union" -> ((s, dir) => {
      // first-non-missing union (reference TimeSeriesUtils.union): the
      // high-value daily mean (sparse — only user-days with a value >= 30
      // event) wins over the dense daily event count wherever both exist
      val a = Tables.events(s, dir).filter(col("value") >= 30)
        .groupBy(col("user_id").cast("string").as("key"),
          unix_micros(date_trunc("DAY", timestamp_micros(col("ts_us")))).as("day_us"))
        .agg(avg("value").as("value"))
      val b = Tables.events(s, dir)
        .groupBy(col("user_id").cast("string").as("key"),
          unix_micros(date_trunc("DAY", timestamp_micros(col("ts_us")))).as("day_us"))
        .agg(count(lit(1)).cast("double").as("value"))
      TS.unionSeries(Seq(a, b), key = "key", ts = "day_us", value = "value")
        .select(col("key"), col("day_us"), round(col("value"), 6).as("value"))
    }),
    "m54_arx_fit" -> ((s, dir) =>
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
          (round(try_element_at(col("xCoefs"), lit(2)), 6) + lit(0.0)).as("x_1"))),

    // ---------------- r17: streaming batch-parity replays (VERDICT r16 #5)
    // — the Structured Streaming surfaces run as REAL streams (readStream →
    // operator → sink, availableNow trigger) over the SF table and the
    // oracle compare hash-checks the emitted result against the BATCH
    // semantics in DuckDB. Certifies that a streaming deployment of the
    // operator converges to the batch answer on a full replay. Fixture,
    // stream, state parallelism, sink and cleanup: graft.streaming.Replay.
    "st01_streaming_resample_replay" -> ((s, dir) => {
      // daily tumbling sum per user through StreamingResample.tumblingModes
      // (closed-left, stamp-left), replayed availableNow; complete mode +
      // an effectively-infinite watermark so no replay row is "late"
      val ev = Tables.events(s, dir)
        .select(col("user_id"), timestamp_micros(col("ts_us")).as("ts"), col("value"))
      // the sink holds only the user x day aggregate (bounded well below
      // the input)
      Replay.run(s, "graft_st01_", "complete", ev) { stream =>
        graft.streaming.StreamingResample.tumblingModes(stream,
          dayUsTick, sum(_), closedRight = false, stampRight = false,
          watermark = "36500 days", key = "user_id")
      }.select(col("user_id"), unix_micros(col("bucket_ts")).as("day_us"),
        round(col("value"), 4).as("sum_value"))
    }),
    "st02_streaming_dedup_replay" -> ((s, dir) => {
      // exact streaming dedup (dropDuplicatesWithinWatermark on the
      // canonical fingerprint) replayed availableNow: exactly ONE survivor
      // must emit per canonical group — the streaming twin of dd02
      // synthetic event times on a 2020 base: epoch 0 exactly equals the
      // stream's INITIAL watermark and a doc_id=0 row would be dropped as
      // late before the first batch ever advances it
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"),
          timestamp_micros(lit(1577836800000000L) + col("doc_id") * 1000000L)
            .as("event_time"))
      Replay.run(s, "graft_st02_", "append", docs) { stream =>
        graft.streaming.StreamingDedup.streamingExactDedup(
          stream, "text", "event_time", "36500 days")
      }.groupBy("fingerprint").agg(count(lit(1)).as("n_survivors"))
    }),
    "st03_streaming_hh_replay" -> ((s, dir) => {
      // sharded Space-Saving heavy hitters (StreamingSketch) replayed
      // availableNow in the NO-EVICTION regime: the corpus vocabulary
      // (31 tokens at every SF) sits far below shards x capacity, and
      // Space-Saving counts are EXACT whenever nothing is evicted — so
      // the streaming summary must reproduce the batch token counts
      // bit-for-bit, with every error bound at 0. Streaming twin of the
      // qs03 batch heavy-hitter certification.
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      // update-mode emissions are cumulative full-shard summaries, so the
      // max count per token is its final count (each token lives in
      // exactly one shard); max(err) must be 0 — the no-eviction pin
      Replay.run(s, "graft_st03_", "update", docs) { stream =>
        graft.streaming.StreamingSketch.streamingHeavyHitters(
          stream, "text", shards = 4, capacity = 64).toDF()
      }.groupBy("token")
        .agg(max(col("count")).as("n"), max(col("err")).as("max_err"))
    }),
    "st05_streaming_idx_neardup_digest" -> ((s, dir) => {
      // r18: the streaming half of the incremental-dedup index story,
      // driver-visible — docs >= 250 replayed availableNow through
      // streamingNearDupAgainstIndex against minhashIndex(docs < 250),
      // reduced to a pair digest whose oracle constant is DERIVED from the
      // dd03 golden (its 13 pairs with exactly one side < 250), the same
      // derivation contract as dd23
      val batch = Tables.documents(s, dir).filter(col("doc_id") >= 250)
        .select(col("doc_id"), col("text"),
          timestamp_micros(lit(1577836800000000L) + col("doc_id") * 1000000L)
            .as("event_time"))
      val pairs = Replay.run(s, "graft_st05_", "append", batch) { stream =>
        // the index side input is built on the stream's own session
        val index = graft.text.Dedup.minhashIndex(
          Tables.documents(stream.sparkSession, dir).filter(col("doc_id") < 250))
        graft.streaming.StreamingDedup.streamingNearDupAgainstIndex(
          stream, index, watermark = "36500 days",
          k = 3, numHashes = 64, bands = 16, threshold = 0.3)
      }
      pairDigest(pairs,
        format_string("%d,%d,%.6f", least(col("stream_id"), col("corpus_id")),
          greatest(col("stream_id"), col("corpus_id")), col("jaccard")))
    }),
    "st04_streaming_late_drop" -> ((s, dir) => {
      // r18 (VERDICT r17 #1): watermark EVICTION and late-data DROPPING on a
      // real two-phase replay — the one streaming semantic st01-st03 never
      // exercised (they run no-eviction regimes). Phase 1 streams the
      // on-time events (daily count per user, update mode, "2 days" bucket
      // watermark) through a checkpointed availableNow query; phase 2
      // restarts FROM THE SAME CHECKPOINT with the held-back late rows
      // (every user_id%5==2 event) appended to the source dir. The restored
      // watermark = max_bucket - 2 days, so late rows in the last two day
      // buckets merge into their (retained) state while all older late rows
      // are dropped by the watermark filter. The DuckDB oracle recomputes
      // exactly that kept-set in SQL — a hash mismatch would mean Spark's
      // drop/evict boundary diverged from the documented contract. Rows
      // whose bucket sits exactly ON the threshold stay in phase 1, so the
      // check is insensitive to the filter's < vs <= strictness.
      // (update-mode emissions are cumulative per group, so max(count) per
      // group is its final value.)
      val ev = Tables.events(s, dir)
        .withColumn("bucket", col("ts_us") - pmod(col("ts_us"), lit(dayUsTick)))
      val maxB = ev.agg(max("bucket")).head().getLong(0)
      val wmThresh = maxB - 2 * dayUsTick
      val lateCond = pmod(col("user_id"), lit(5)) === 2 &&
        col("bucket") =!= wmThresh
      val feed = ev.select(col("user_id"),
        timestamp_micros(col("ts_us")).as("ts"), col("value"), lateCond.as("late"))
      // phase 1: on-time rows, watermark advances to maxB - 2 days;
      // phase 2: late rows against the recovered watermark
      Replay.run(s, "graft_st04_", "update",
          feed.filter(!col("late")).drop("late").coalesce(1),
          feed.filter(col("late")).drop("late").coalesce(1)) { stream =>
        graft.streaming.StreamingResample.tumblingModes(stream,
          dayUsTick, count(_), closedRight = false, stampRight = false,
          watermark = "2 days", key = "user_id")
      }.groupBy(col("user_id"), unix_micros(col("bucket_ts")).as("day_us"))
        .agg(max(col("value")).as("n_events"))
    }),
    "st06_streaming_lateness_replay" -> ((s, dir) => {
      // r20 (VERDICT r19 #4): the same two-phase checkpointed drop/evict
      // probe as st04, driven through tumblingModesLateness — lateness is
      // stated on RAW event times ("1 day") and the operator widens the
      // bucket-label watermark by one width internally. 2-day buckets, so
      // the recovered watermark is maxBucket - (1 day + 2 days); buckets
      // are 2-day multiples and the threshold sits strictly inside one, so
      // no bucket can land exactly ON it — the check is insensitive to the
      // drop filter's < vs <= strictness by construction. The watermark
      // base is the ON-TIME subset's max bucket (what phase 1 actually
      // saw), mirrored in the oracle. A hash mismatch means the lateness
      // compensation diverged from the documented raw-lateness contract.
      val widthUs = 2 * dayUsTick
      val lateCond = pmod(col("user_id"), lit(5)) === 3
      val feed = Tables.events(s, dir).select(col("user_id"),
        timestamp_micros(col("ts_us")).as("ts"), col("value"), lateCond.as("late"))
      // phase 1: on-time rows advance the watermark; phase 2: late rows
      // against the recovered widened watermark
      Replay.run(s, "graft_st06_", "update",
          feed.filter(!col("late")).drop("late").coalesce(1),
          feed.filter(col("late")).drop("late").coalesce(1)) { stream =>
        graft.streaming.StreamingResample.tumblingModesLateness(
          stream, widthUs, count(_), closedRight = false, stampRight = false,
          lateness = "1 day", key = "user_id")
      }.groupBy(col("user_id"), unix_micros(col("bucket_ts")).as("bucket_us"))
        .agg(max(col("value")).as("n_events"))
    })
  )

  /** DuckDB string literal composed to be byte-pure ASCII: any char outside
    * printable ASCII becomes `chr(<codepoint>)`. tx03 failed the driver's
    * hash compare for two rounds with semantically-identical SQL — the
    * residual suspect was the driver's DuckDB evaluation of non-ASCII
    * literals, so the oracle now never emits one at the source. */
  private def asciiSqlLit(s: String): String = {
    def plain(c: Char) = c >= ' ' && c <= '~' && c != '\''
    if (s.forall(plain)) "'" + s + "'"
    else {
      val parts = scala.collection.mutable.ArrayBuffer.empty[String]
      val sb = new StringBuilder
      def flush(): Unit = if (sb.nonEmpty) { parts += ("'" + sb + "'"); sb.clear() }
      s.foreach { c =>
        if (plain(c)) sb.append(c)
        else { flush(); parts += s"chr(${c.toInt})" }
      }
      flush()
      if (parts.length == 1) parts.head else parts.mkString("(", " || ", ")")
    }
  }
  private def asciiInList(words: Seq[String]): String =
    words.map(asciiSqlLit).mkString(", ")

  /** Shared langid CTE: stopword lists interpolated straight from
    * [[graft.text.StopWords]] (single source of truth with the Spark side),
    * every non-ASCII char chr()-composed. */
  private def langIdCte: String = {
    val p = graft.text.StopWords.profiles.toMap
    s"""WITH h AS (
         SELECT doc_id, lang, string_split(text,' ') AS toks FROM documents),
       c AS (
         SELECT doc_id, lang,
           len(list_filter(toks, x -> x IN (${asciiInList(p("de"))}))) AS h_de,
           len(list_filter(toks, x -> x IN (${asciiInList(p("en"))}))) AS h_en,
           len(list_filter(toks, x -> x IN (${asciiInList(p("es"))}))) AS h_es,
           len(list_filter(toks, x -> x IN (${asciiInList(p("fr"))}))) AS h_fr,
           len(list_filter(toks, x -> x IN (${asciiInList(p("zh"))}))) AS h_zh
         FROM h),
       p AS (
         SELECT doc_id, lang, h_de, h_en, h_es, h_fr, h_zh,
           CASE WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr AND h_de >= h_zh THEN 'de'
                WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_zh THEN 'en'
                WHEN h_es >= h_fr AND h_es >= h_zh THEN 'es'
                WHEN h_fr >= h_zh THEN 'fr'
                ELSE 'zh' END AS lang_pred
         FROM c)"""
  }

  /** Generated DuckDB replay of [[graft.text.NgramRepetition]] (tx26):
    * per n, n-grams via list_transform over the zipped token/position
    * unnest; top fraction = row_number-max (count desc, chars desc)
    * product; duplicate fraction = interval-union of covered token
    * positions (DISTINCT on (doc, pos)) joined back to per-token lengths.
    * Same int/int double divisions as the Spark expression. */
  private def ngramRepOracle: String = {
    def gramExpr(n: Int): String =
      (1 to n).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
    val topCtes = graft.text.NgramRepetition.TopNs.map { n =>
      s"""g$n AS (SELECT doc_id,
             unnest(list_transform(range(len(toks) - ${n - 1}),
               i -> ${gramExpr(n)})) AS gram
           FROM w),
         t$n AS (SELECT doc_id, cnt * chars AS prod FROM (
             SELECT doc_id, cnt, chars,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY cnt DESC, chars DESC) AS rn
             FROM (SELECT doc_id, gram, count(*) AS cnt,
                     length(gram) - ${n - 1} AS chars
                   FROM g$n GROUP BY doc_id, gram)) WHERE rn = 1)"""
    }
    val dupCtes = graft.text.NgramRepetition.DupNs.map { n =>
      s"""g$n AS (SELECT doc_id,
             unnest(list_transform(range(len(toks) - ${n - 1}),
               i -> ${gramExpr(n)})) AS gram,
             unnest(range(len(toks) - ${n - 1})) AS i
           FROM w),
         c$n AS (SELECT doc_id, gram, count(*) AS cnt
                 FROM g$n GROUP BY doc_id, gram),
         d$n AS (SELECT DISTINCT doc_id, p FROM (
             SELECT g.doc_id, unnest(range(g.i, g.i + $n)) AS p
             FROM g$n g JOIN c$n c
               ON g.doc_id = c.doc_id AND g.gram = c.gram
             WHERE c.cnt >= 2)),
         v$n AS (SELECT d.doc_id, sum(length(t.tok)) AS cov
             FROM d$n d JOIN tok t ON d.doc_id = t.doc_id AND d.p = t.p
             GROUP BY d.doc_id)"""
    }
    def frac(expr: String, name: String): String =
      s"CASE WHEN b.total_chars = 0 THEN 0.0 ELSE coalesce($expr, 0)::DOUBLE / b.total_chars END AS $name"
    val topSel = graft.text.NgramRepetition.TopNs.map(n =>
      frac(s"t$n.prod", s"top_${n}gram_char_frac"))
    val dupSel = graft.text.NgramRepetition.DupNs.map(n =>
      frac(s"v$n.cov", s"dup_${n}gram_char_frac"))
    val joins = graft.text.NgramRepetition.TopNs.map(n => s"LEFT JOIN t$n USING (doc_id)") ++
      graft.text.NgramRepetition.DupNs.map(n => s"LEFT JOIN v$n USING (doc_id)")
    s"""WITH w AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks FROM documents),
       tok AS (SELECT doc_id, unnest(toks) AS tok, unnest(range(len(toks))) AS p FROM w),
       base AS (SELECT doc_id, count(*) AS m, sum(length(tok))::BIGINT AS total_chars
                FROM tok GROUP BY doc_id),
       ${(topCtes ++ dupCtes).mkString(",\n")}
       SELECT b.doc_id, b.m AS n_tokens, b.total_chars AS n_token_chars,
         ${(topSel ++ dupSel).mkString(",\n         ")}
       FROM base b ${joins.mkString(" ")}"""
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
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

  def oracleSql: Map[String, String] = Map(
    // sp01 — natural cubic spline as SQL: the tridiagonal (Thomas) solve is
    // two sequential recurrences, emitted as recursive CTEs (fwd: mu/z
    // sweep over interior knots; bwd: back-substitution for the second
    // derivatives), then Horner evaluation per gap. Expression shapes
    // mirror the engine kernel's arithmetic ORDER exactly (alpha form,
    // (y1-y0)/h - h*(c1+2c)/3, ((d*dx + c)*dx + b)*dx + y) so doubles are
    // bit-identical, not merely close — validated 4466/4466 exact at
    // sf0.01. Keys with < 3 knots pass their observations through
    // untouched, matching the kernel's early return.
    "sp01_spline_series" ->
      """WITH RECURSIVE
         base AS (
           SELECT CAST(user_id AS VARCHAR) AS key,
                  date_trunc('day', ts) AS day, avg(value) AS v
           FROM events GROUP BY 1, 2
         ),
         bounds AS (
           SELECT date_trunc('day', min(ts)) AS mn, date_trunc('day', max(ts)) AS mx
           FROM events
         ),
         days AS (
           SELECT d.d AS day,
                  CAST(row_number() OVER (ORDER BY d.d) - 1 AS DOUBLE) AS pos
           FROM bounds b, unnest(generate_series(b.mn, b.mx, INTERVAL 1 DAY)) AS d(d)
         ),
         grid AS (
           SELECT k.key, d.day, d.pos, b.v
           FROM (SELECT DISTINCT key FROM base) k
           CROSS JOIN days d
           LEFT JOIN base b ON b.key = k.key AND b.day = d.day
         ),
         knots AS (
           SELECT key, day, pos, v,
                  row_number() OVER (PARTITION BY key ORDER BY pos) - 1 AS ki,
                  count(*) OVER (PARTITION BY key) AS n
           FROM grid WHERE v IS NOT NULL
         ),
         trip AS (
           SELECT key, ki, n, pos, v,
                  lag(pos)  OVER w AS pos_m1, lead(pos) OVER w AS pos_p1,
                  lag(v)    OVER w AS v_m1,   lead(v)   OVER w AS v_p1
           FROM knots WINDOW w AS (PARTITION BY key ORDER BY ki)
         ),
         fwd AS (
           SELECT key, 0 AS ki, CAST(0 AS DOUBLE) AS mu, CAST(0 AS DOUBLE) AS z
           FROM knots WHERE ki = 0 AND n >= 3
           UNION ALL
           SELECT t.key, t.ki,
                  (t.pos_p1 - t.pos) /
                    (2 * (t.pos_p1 - t.pos_m1) - (t.pos - t.pos_m1) * f.mu) AS mu,
                  (3 * (t.v_p1 * (t.pos - t.pos_m1)
                        - t.v * (t.pos_p1 - t.pos_m1)
                        + t.v_m1 * (t.pos_p1 - t.pos))
                     / ((t.pos - t.pos_m1) * (t.pos_p1 - t.pos))
                   - (t.pos - t.pos_m1) * f.z)
                    / (2 * (t.pos_p1 - t.pos_m1) - (t.pos - t.pos_m1) * f.mu) AS z
           FROM fwd f JOIN trip t ON t.key = f.key AND t.ki = f.ki + 1
           WHERE t.ki <= t.n - 2
         ),
         bwd AS (
           SELECT key, n - 1 AS ki, CAST(0 AS DOUBLE) AS c
           FROM (SELECT DISTINCT key, n FROM knots WHERE n >= 3)
           UNION ALL
           SELECT b.key, b.ki - 1, f.z - f.mu * b.c
           FROM bwd b JOIN fwd f ON f.key = b.key AND f.ki = b.ki - 1
           WHERE b.ki - 1 >= 0
         ),
         coef AS (
           SELECT t.key, t.pos AS x0, t.pos_p1 AS x1, t.v AS y0,
                  (t.v_p1 - t.v) / (t.pos_p1 - t.pos)
                    - (t.pos_p1 - t.pos) * (c1.c + 2 * c0.c) / 3 AS b,
                  c0.c AS c,
                  (c1.c - c0.c) / (3 * (t.pos_p1 - t.pos)) AS d
           FROM trip t
           JOIN bwd c0 ON c0.key = t.key AND c0.ki = t.ki
           JOIN bwd c1 ON c1.key = t.key AND c1.ki = t.ki + 1
           WHERE t.ki <= t.n - 2
         ),
         interp AS (
           SELECT g.key, g.day,
                  ((c.d * (g.pos - c.x0) + c.c) * (g.pos - c.x0) + c.b)
                    * (g.pos - c.x0) + c.y0 AS v
           FROM grid g
           JOIN coef c ON c.key = g.key AND g.pos > c.x0 AND g.pos < c.x1
           WHERE g.v IS NULL
         )
         SELECT key, epoch_us(day) AS day_us, round(v, 6) AS value FROM knots
         UNION ALL
         SELECT key, epoch_us(day) AS day_us, round(v, 6) AS value FROM interp""",
    // DSIR replayed whole in SQL: same md5-prefix buckets, same add-1
    // smoothing, same ratio shape (broadcast in Spark, plain joins here);
    // the Gumbel uniform's hex-to-int runs as exact integer arithmetic over
    // the md5 chars (every partial sum < 2^52 -> exactly representable, so
    // summation order cannot change the value)
    "rc09_kcenter_certified" -> graft.sim.Recall.oracleFor("kcenter"),
    "qc02_classifier_metrics" ->
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
         FROM agg, a""",
    "smp09_ccnet_buckets" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
         bg AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bigram
           FROM t, UNNEST(range(1, len(toks))) AS u(i)),
         c AS (SELECT doc_id, bigram, count(*) AS cnt FROM bg GROUP BY 1, 2),
         v AS (SELECT bigram, sum(cnt) AS cb FROM c GROUP BY bigram),
         pv AS (SELECT string_split(bigram, ' ')[1] AS w1, sum(cb) AS cu
           FROM v GROUP BY 1),
         d AS (SELECT doc_id,
             round(exp(round(-sum(cnt * ln(cb::DOUBLE / cu)) / sum(cnt), 6)), 6)
               AS perplexity
           FROM c JOIN v USING (bigram)
             JOIN pv ON string_split(bigram, ' ')[1] = pv.w1
           GROUP BY doc_id),
         sc AS (SELECT s.source, d.doc_id, d.perplexity
           FROM d JOIN documents s USING (doc_id)),
         th AS (SELECT source,
             quantile_cont(perplexity, 1.0/3) AS lo,
             quantile_cont(perplexity, 2.0/3) AS hi
           FROM sc GROUP BY source)
         SELECT sc.source, sc.doc_id, sc.perplexity,
           CASE WHEN sc.perplexity <= th.lo THEN 'head'
                WHEN sc.perplexity <= th.hi THEN 'middle'
                ELSE 'tail' END AS bucket
         FROM sc JOIN th USING (source)""",
    "smp07_dsir_weights" ->
      """WITH toks AS (
           SELECT doc_id, source,
             list_filter(string_split(text, ' '), t -> t <> '') AS tk
           FROM documents),
         ng AS (
           SELECT doc_id, source, unnest(tk || list_transform(
             range(greatest(len(tk) - 1, 0)), i -> tk[i+1] || ' ' || tk[i+2])) AS g
           FROM toks),
         b AS (SELECT doc_id, source, substr(md5(g), 1, 3) AS bucket FROM ng),
         rcnt AS (SELECT bucket, count(*) AS c FROM b GROUP BY bucket),
         tcnt AS (SELECT bucket, count(*) AS ct FROM b
                  WHERE source IN ('src0','src1','src2') GROUP BY bucket),
         tot AS (SELECT (SELECT sum(c) FROM rcnt) AS rt,
                        (SELECT sum(ct) FROM tcnt) AS tt),
         ratio AS (
           SELECT r.bucket,
             ln((coalesce(t.ct, 0) + 1.0) / (tot.tt + 4096.0)) -
             ln((r.c + 1.0) / (tot.rt + 4096.0)) AS logratio
           FROM rcnt r LEFT JOIN tcnt t USING (bucket), tot),
         db AS (SELECT doc_id, bucket, count(*) AS n FROM b GROUP BY 1, 2),
         sc AS (SELECT doc_id, sum(n) AS n_ngrams, sum(n * logratio) AS lw
                FROM db JOIN ratio USING (bucket) GROUP BY doc_id)
         SELECT d.doc_id, CAST(coalesce(sc.n_ngrams, 0) AS BIGINT) AS n_ngrams,
           round(coalesce(sc.lw, 0), 6) AS log_weight
         FROM documents d LEFT JOIN sc USING (doc_id)""",
    "smp08_dsir_sample" ->
      """WITH toks AS (
           SELECT doc_id, source,
             list_filter(string_split(text, ' '), t -> t <> '') AS tk
           FROM documents),
         ng AS (
           SELECT doc_id, source, unnest(tk || list_transform(
             range(greatest(len(tk) - 1, 0)), i -> tk[i+1] || ' ' || tk[i+2])) AS g
           FROM toks),
         b AS (SELECT doc_id, source, substr(md5(g), 1, 3) AS bucket FROM ng),
         rcnt AS (SELECT bucket, count(*) AS c FROM b GROUP BY bucket),
         tcnt AS (SELECT bucket, count(*) AS ct FROM b
                  WHERE source IN ('src0','src1','src2') GROUP BY bucket),
         tot AS (SELECT (SELECT sum(c) FROM rcnt) AS rt,
                        (SELECT sum(ct) FROM tcnt) AS tt),
         ratio AS (
           SELECT r.bucket,
             ln((coalesce(t.ct, 0) + 1.0) / (tot.tt + 4096.0)) -
             ln((r.c + 1.0) / (tot.rt + 4096.0)) AS logratio
           FROM rcnt r LEFT JOIN tcnt t USING (bucket), tot),
         db AS (SELECT doc_id, bucket, count(*) AS n FROM b GROUP BY 1, 2),
         sc AS (SELECT doc_id, sum(n * logratio) AS lw
                FROM db JOIN ratio USING (bucket) GROUP BY doc_id),
         w AS (SELECT d.doc_id, coalesce(sc.lw, 0) AS lw
               FROM documents d LEFT JOIN sc USING (doc_id)),
         gk AS (
           SELECT doc_id, lw,
             lw - ln(-ln((list_sum(list_transform(range(13),
               i -> (strpos('0123456789abcdef',
                 substr(md5(doc_id || ':42'), i + 1, 1)) - 1) * 16.0^(12 - i)))
               + 0.5) / 16.0^13)) AS gumbel_key
           FROM w)
         SELECT doc_id, round(lw, 6) AS log_weight,
           round(gumbel_key, 6) AS gumbel_key
         FROM gk ORDER BY gk.gumbel_key DESC, doc_id LIMIT 50""",
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity),2) AS sum_qty,
         round(sum(l_extendedprice),2) AS sum_base_price,
         round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
         round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge,
         round(avg(l_quantity),6) AS avg_qty,
         round(avg(l_extendedprice),6) AS avg_price,
         round(avg(l_discount),6) AS avg_disc,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus""",
    "q02_revenue_by_nation" ->
      """SELECT n_name, round(sum(o_totalprice),2) AS revenue, count(*) AS n_orders
         FROM orders JOIN customer ON o_custkey=c_custkey
         JOIN nation ON c_nationkey=n_nationkey GROUP BY n_name""",
    "q03_brand_volume" ->
      """SELECT p_brand, round(sum(l_quantity),2) AS sum_qty,
         round(sum(l_extendedprice*(1-l_discount)),2) AS revenue, count(*) AS n_items
         FROM lineitem JOIN part ON l_partkey=p_partkey GROUP BY p_brand""",
    "q04_priority_count" ->
      """SELECT o_orderpriority, count(*) AS order_count FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY o_orderpriority""",
    "ts01_lag" ->
      """SELECT user_id, ts_us, value, lag_1, lag_2 FROM (
         SELECT user_id, epoch_us(ts) AS ts_us, value,
           lag(value,1) OVER w AS lag_1, lag(value,2) OVER w AS lag_2,
           row_number() OVER w AS rn
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
         ) t WHERE rn > 2""",
    "ts02_diff" ->
      """SELECT user_id, ts_us, value FROM (
         SELECT user_id, epoch_us(ts) AS ts_us,
           value - lag(value,1) OVER w AS value, row_number() OVER w AS rn
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
         ) t WHERE rn > 1""",
    "ts03_rollmean" ->
      """SELECT user_id, ts_us, round(m,6) AS roll_mean FROM (
         SELECT user_id, epoch_us(ts) AS ts_us,
           avg(value) OVER w AS m, count(value) OVER w AS c
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         ) t WHERE c = 7""",
    "ts04_resample_day" ->
      """SELECT user_id, epoch_us(date_trunc('day', ts)) AS day_us,
         count(*) AS n, round(avg(value),6) AS avg_value, round(sum(value),4) AS sum_value
         FROM events GROUP BY user_id, date_trunc('day', ts)""",
    "ts05_fill_locf" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         last_value(CASE WHEN event_type='error' THEN NULL ELSE value END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
         FROM events""",
    "ts06_stats" ->
      """SELECT user_id, count(value) AS n, round(avg(value),6) AS mean,
         round(stddev_samp(value),6) AS stdev, min(value) AS min, max(value) AS max
         FROM events GROUP BY user_id""",
    "ts07_returnrates" ->
      """SELECT user_id, ts_us, r AS ret FROM (
         SELECT user_id, epoch_us(ts) AS ts_us,
           value / lag(value,1) OVER w - 1.0 AS r, row_number() OVER w AS rn
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
         ) t WHERE rn > 1""",
    "ts08_asof" ->
      """SELECT event_id, user_id, ts_us, last_purchase FROM (
         SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
           last_value(CASE WHEN event_type='purchase' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase
         FROM events WHERE event_type IN ('click','purchase')
         ) t WHERE event_type='click'""",
    "ts09_downsample" ->
      """SELECT user_id, ts_us, value FROM (
         SELECT user_id, epoch_us(ts) AS ts_us, value, row_number() OVER w AS rn
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
         ) t WHERE (rn - 1) % 10 = 0""",
    "ts10_quotients" ->
      """SELECT user_id, ts_us, q AS quot FROM (
         SELECT user_id, epoch_us(ts) AS ts_us,
           value / lag(value,1) OVER w AS q, row_number() OVER w AS rn
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
         ) t WHERE rn > 1""",
    "dd01_dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS dup_count
         FROM documents GROUP BY text""",
    "tx01_text_stats" ->
      """SELECT doc_id, length(text) AS n_chars_c,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens
         FROM documents""",
    "ts11_fill_linear" ->
      """SELECT event_id, user_id, ts_us,
         CASE WHEN v IS NOT NULL THEN v
              WHEN pv IS NOT NULL AND nv IS NOT NULL
                THEN pv + (nv - pv) * (rn0 - ploc) / (nloc - ploc)
              ELSE NULL END AS filled
         FROM (
           SELECT event_id, user_id, epoch_us(ts) AS ts_us, v, rn0,
             last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN rn0 END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ploc,
             first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN rn0 END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nloc
           FROM (
             SELECT event_id, user_id, ts,
               CASE WHEN event_type='error' THEN NULL ELSE value END AS v,
               row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS rn0
             FROM events)
         ) t""",
    "ts12_fill_nearest" ->
      """SELECT event_id, user_id, ts_us,
         CASE WHEN v IS NOT NULL THEN v
              WHEN pv IS NOT NULL AND (nv IS NULL OR (rn0 - ploc) <= (nloc - rn0)) THEN pv
              ELSE nv END AS filled
         FROM (
           SELECT event_id, user_id, epoch_us(ts) AS ts_us, v, rn0,
             last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN rn0 END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ploc,
             first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN rn0 END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nloc
           FROM (
             SELECT event_id, user_id, ts,
               CASE WHEN event_type='error' THEN NULL ELSE value END AS v,
               row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS rn0
             FROM events)
         ) t""",
    "ts13_rollsum_center" ->
      """SELECT user_id, ts_us, round(sm, 4) AS roll_sum FROM (
         SELECT user_id, epoch_us(ts) AS ts_us,
           sum(value) OVER w AS sm, count(value) OVER w AS c
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
           ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
         ) t WHERE c = 5""",
    "ts14_slice" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events
         WHERE epoch_us(ts) >= 1704844800000000 AND epoch_us(ts) <= 1705708800000000""",
    "ts15_instants" ->
      """SELECT epoch_us(ts) AS ts_us,
         max(CASE WHEN event_type='click' THEN value END) AS click,
         max(CASE WHEN event_type='error' THEN value END) AS error,
         max(CASE WHEN event_type='purchase' THEN value END) AS purchase,
         max(CASE WHEN event_type='signup' THEN value END) AS signup,
         max(CASE WHEN event_type='view' THEN value END) AS "view"
         FROM events GROUP BY 1""",
    "ts16_align_locf" ->
      """WITH daily AS (
           SELECT user_id, epoch_us(date_trunc('day', ts)) AS day_us,
             round(avg(value), 6) AS value
           FROM events GROUP BY 1, 2),
         grid AS (
           SELECT u.user_id, epoch_us(g.d) AS day_us
           FROM (SELECT DISTINCT user_id FROM events) u
           CROSS JOIN (SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
             TIMESTAMP '2024-01-30', INTERVAL 1 DAY)) AS d) g),
         joined AS (
           SELECT g.user_id, g.day_us, daily.value AS v
           FROM grid g LEFT JOIN daily
             ON g.user_id = daily.user_id AND g.day_us = daily.day_us)
         SELECT user_id, day_us,
           last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day_us
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
         FROM joined""",
    "ts17_autocorr" ->
      """SELECT user_id, round(corr(value, l1), 6) AS acf_1,
         round(corr(value, l2), 6) AS acf_2 FROM (
         SELECT user_id, value, lag(value, 1) OVER w AS l1, lag(value, 2) OVER w AS l2
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
         ) t GROUP BY user_id""",
    "ts18_complete_days" ->
      """WITH daily AS (
           SELECT user_id, epoch_us(date_trunc('day', ts)) AS day_us,
             round(avg(value), 6) AS value
           FROM events WHERE user_id < 8 GROUP BY 1, 2),
         full_days AS (
           SELECT day_us FROM daily GROUP BY day_us
           HAVING count(*) = (SELECT count(DISTINCT user_id) FROM events WHERE user_id < 8))
         SELECT d.user_id, d.day_us, d.value FROM daily d
         JOIN full_days f ON d.day_us = f.day_us""",
    "ts19_resample_2h_closedright" ->
      """WITH b AS (
           SELECT user_id,
             CASE WHEN epoch_us(ts) % 7200000000 = 0 THEN epoch_us(ts)
                  ELSE epoch_us(ts) - (epoch_us(ts) % 7200000000) + 7200000000 END AS ts_us,
             value
           FROM events),
         per_user AS (
           SELECT user_id, ts_us, sum(value) AS v FROM b GROUP BY 1, 2)
         SELECT ts_us, count(*) AS n_series, round(sum(v), 4) AS total
         FROM per_user GROUP BY 1""",
    "ts20_filter_instant" ->
      """WITH daily AS (
           SELECT user_id, epoch_us(date_trunc('day', ts)) AS day_us,
             round(max(value), 4) AS value
           FROM events WHERE user_id < 8 GROUP BY 1, 2),
         bad AS (
           SELECT DISTINCT day_us FROM daily
           WHERE user_id IN (0, 1, 2) AND NOT (value <= 180.0))
         SELECT d.user_id, d.day_us, d.value FROM daily d
         LEFT JOIN bad b ON d.day_us = b.day_us WHERE b.day_us IS NULL""",
    "ts21_interval_diff" ->
      """SELECT event_id, user_id, ts_us, value - base AS diff_1h FROM (
         SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
           last_value(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN UNBOUNDED PRECEDING AND 3600000000 PRECEDING) AS base
         FROM events) t""",
    "bd01_business_days" ->
      """SELECT epoch_us(date_trunc('day', ts)) AS day_us, count(*) AS n_events,
         round(sum(value), 4) AS total
         FROM events WHERE dayofweek(ts) BETWEEN 1 AND 5
         GROUP BY 1""",
    "dd02_dedup_canonical" ->
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text),'[^a-z0-9 ]',' ','g'),' +',' ','g'))) AS fingerprint,
         min(doc_id) AS keep_id, count(*) AS dup_count
         FROM documents GROUP BY 1""",
    // frozen sf0.01 pair-set digests — same source of truth as the
    // GoldenSpec CSVs (one drifted pair flips the md5)
    "dd15_minhash_digest" ->
      """SELECT '061391de941a2b856605ede9e519ee3b' AS digest, 25::BIGINT AS n_pairs""",
    "dd16_simhash_digest" ->
      """SELECT 'd644f69edef1f1bcc102ec0c25d9f725' AS digest, 143::BIGINT AS n_pairs""",
    "dd17_embedding_digest" ->
      """SELECT '93e6d9fd1e207ec096ab58a7a9010c0f' AS digest, 695::BIGINT AS n_pairs""",
    // sm06-sm08 independently cross-validated against the GoldenSpec CSVs
    // (identical md5 over the same sorted line format)
    "dd18_semdedup_digest" ->
      """SELECT '07c3a75f8d1738b0b8c5bec5eb3f8a16' AS digest, 1917::BIGINT AS n_pairs""",
    "dd19_semdecon_digest" ->
      """SELECT '9b134665e15d0235a1baecb6bf188656' AS digest, 352::BIGINT AS n_pairs""",
    "sm06_lsh_digest" ->
      """SELECT '6639b04370ca53c5029c672351aaafb1' AS digest, 50::BIGINT AS n_pairs""",
    "sm07_ivf_digest" ->
      """SELECT 'e49ce81bb71273d581b796a1fe706d94' AS digest, 50::BIGINT AS n_pairs""",
    "sm08_pq_digest" ->
      """SELECT 'ce5a680ad4f08764b3fcc8f6e05a9f20' AS digest, 50::BIGINT AS n_pairs""",
    "smp11_kcenter_digest" ->
      """SELECT '19565b66075d14f1844e3d99f094e570' AS digest, 12::BIGINT AS n_pairs""",
    // m43-m53/qc03: sf0.01-frozen digests of the rows-only optimizer-fit
    // surfaces (regenerate by re-running the twin at sf0.01 after an
    // intentional kernel change; determinism re-verified run-to-run)
    "m43_arima_fit_digest" ->
      """SELECT 'ab474a57f38ecf1f21ebfafd078fb11b' AS digest, 150::BIGINT AS n_pairs""",
    "m44_ewma_fit_digest" ->
      """SELECT 'bbd2512c96ff9bc5cb1c811a40d55e86' AS digest, 150::BIGINT AS n_pairs""",
    "m45_arima_forecast_digest" ->
      """SELECT 'af287a2e7ef77c12f4863a8dd3d611cb' AS digest, 750::BIGINT AS n_pairs""",
    "m46_hw_fit_digest" ->
      """SELECT '26331eae35290242167d2449237946ab' AS digest, 150::BIGINT AS n_pairs""",
    "m47_garch_fit_digest" ->
      """SELECT 'd90a0915d3498cad5e9aa2c7d90c1193' AS digest, 150::BIGINT AS n_pairs""",
    "m48_adf_digest" ->
      """SELECT 'd8bce0cf1483dd049b7a26fdb2cea169' AS digest, 150::BIGINT AS n_pairs""",
    "m49_autofit_digest" ->
      """SELECT '2906d0f93459c0ef989fd22a4f9632ac' AS digest, 20::BIGINT AS n_pairs""",
    "m50_arimax_digest" ->
      """SELECT '0494c16d045e78e08148a60c098269bd' AS digest, 150::BIGINT AS n_pairs""",
    "m51_hw_forecast_digest" ->
      """SELECT 'ec8c762b667a3e69aeb137b7b8a9f411' AS digest, 1050::BIGINT AS n_pairs""",
    "m52_ewma_forecast_digest" ->
      """SELECT '4457f3f15bf5ad92a59a5f4b2d26b70c' AS digest, 750::BIGINT AS n_pairs""",
    "m53_egarch_fit_digest" ->
      """SELECT '61ac5ee87eda173339acd93eed7f854f' AS digest, 20::BIGINT AS n_pairs""",
    "qc03_logit_digest" ->
      """SELECT '39b9fa782b206e36c74ab8af3e0f704f' AS digest, 500::BIGINT AS n_pairs""",
    "dd05_ngram_jaccard" ->
      """WITH t AS (SELECT doc_id, list_distinct(string_split(text,' ')) AS toks
                    FROM documents WHERE doc_id < 60),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_filter(a.toks, x -> list_contains(b.toks, x)))::DOUBLE
               / len(list_distinct(a.toks || b.toks)) AS j
           FROM t a, t b WHERE a.doc_id < b.doc_id)
         SELECT id_a, id_b, j AS jaccard FROM pairs WHERE j >= 0.65""",
    "tx02_quality" ->
      """WITH s AS (
           SELECT doc_id,
             length(text)::DOUBLE AS n_chars,
             len(string_split(text,' '))::DOUBLE AS n_tokens,
             (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))::DOUBLE / length(text) AS punct_ratio,
             (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE / length(text) AS digit_ratio,
             len(list_filter(string_split(text,' '), x -> x IN ('the','a','an','and','or','of','to','in','is','are','was','that','it','on','for','with','as','this')))::DOUBLE
               / len(string_split(text,' ')) AS stopword_ratio
           FROM documents)
         SELECT doc_id, n_tokens::BIGINT AS n_tokens,
           punct_ratio,
           stopword_ratio,
           round(greatest(0.0, least(1.0,
             0.25 * least(n_tokens / 20.0, 1.0) +
             0.25 * least(stopword_ratio * 5.0, 1.0) +
             0.25 * (1.0 - least(punct_ratio * 4.0, 1.0)) +
             0.25 * (1.0 - least(digit_ratio * 4.0, 1.0)))), 6) AS quality_score
         FROM s""",
    "tx03_langid" ->
      s"""$langIdCte
         SELECT lang, count(*) AS n_docs,
           count(*) FILTER (WHERE lang = lang_pred) AS n_correct
         FROM p GROUP BY lang""",
    "tx06_langid_perdoc" ->
      s"""$langIdCte
         SELECT doc_id, lang, lang_pred, h_de, h_en, h_es, h_fr, h_zh FROM p""",
    "tx07_redact" ->
      """SELECT doc_id,
         (len(regexp_extract_all(text, '[0-9]+'))
          + len(regexp_extract_all(text, '\b(key|hash|token)\b')))::BIGINT AS n_redactions,
         md5(regexp_replace(regexp_replace(text, '[0-9]+', '<NUM>', 'g'),
           '\b(key|hash|token)\b', '<PII>', 'g')) AS redacted_fp
         FROM documents""",
    "tx08_sample_hash" ->
      """SELECT doc_id, lang, source FROM documents WHERE md5(text) < '1'""",
    "ts26_percentiles" ->
      """SELECT user_id, quantile_cont(value, 0.5) AS p50,
         quantile_cont(value, 0.9) AS p90
         FROM events GROUP BY user_id""",
    "tx09_vocab_topk" ->
      """SELECT token, count(*) AS n
         FROM (SELECT unnest(string_split(text,' ')) AS token FROM documents)
         GROUP BY token ORDER BY n DESC, token LIMIT 50""",
    "dd08_decontaminate" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  range(greatest(len(t)-2,0)),
                  i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS sh FROM toks),
         hold AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 0),
         tr AS (SELECT * FROM sh WHERE doc_id % 50 <> 0)
         SELECT tr.doc_id, count(DISTINCT tr.sh) AS n_contaminated_shingles
         FROM tr JOIN hold USING (sh) GROUP BY tr.doc_id""",
    "dd14_contamination_score" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  range(greatest(len(t)-2,0)),
                  i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS sh FROM toks),
         hold AS (SELECT DISTINCT sh, 1 AS hit FROM sh WHERE doc_id % 50 = 0),
         tr AS (SELECT * FROM sh WHERE doc_id % 50 <> 0)
         SELECT tr.doc_id, count(*)::BIGINT AS n_shingles,
           CAST(sum(coalesce(hold.hit, 0)) AS BIGINT) AS n_contaminated,
           round(sum(coalesce(hold.hit, 0))::DOUBLE / count(*), 6)
             AS contamination_frac
         FROM tr LEFT JOIN hold USING (sh) GROUP BY tr.doc_id""",
    "dd07_dup_stats" ->
      """SELECT source, count(*) AS n_docs,
         count(DISTINCT text) AS n_distinct,
         sum(n_chars)::DOUBLE / count(*) AS avg_chars,
         1.0 - count(DISTINCT text)::DOUBLE / count(*) AS dup_rate
         FROM documents GROUP BY source""",
    "tx04_bpeish_tokens" ->
      """SELECT doc_id,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_subtokens
         FROM documents""",
    "mm03_png_decode" ->
      """SELECT d.doc_id AS asset_id,
           ((d.doc_id % 7) + 1)::INT AS decoded_width,
           ((d.doc_id % 5) + 1)::INT AS decoded_height,
           sum((d.doc_id * 31 + x.x * 7 + y.y * 13) % 256)::BIGINT AS px_sum,
           (((d.doc_id % 7) + 1) * ((d.doc_id % 5) + 1))::BIGINT AS n_px
         FROM documents d
         JOIN generate_series(0, 6) AS x(x) ON x.x <= d.doc_id % 7
         JOIN generate_series(0, 4) AS y(y) ON y.y <= d.doc_id % 5
         WHERE d.doc_id % 3 = 0
         GROUP BY d.doc_id""",
    "mm04_wav_decode" ->
      """SELECT d.doc_id AS asset_id,
           (d.doc_id % 50 + 10)::BIGINT AS decoded_samples,
           8000::INT AS sample_rate,
           1::INT AS channels,
           sum((d.doc_id * 37 + i.i * 17) % 2003 - 1001)::BIGINT AS sample_sum
         FROM documents d
         JOIN generate_series(0, 58) AS i(i) ON i.i < d.doc_id % 50 + 10
         WHERE d.doc_id % 3 = 1
         GROUP BY d.doc_id""",
    "mm09_spectral_tilt" ->
      """WITH s AS (
           SELECT d.doc_id AS asset_id, i.i AS i, i.i // 16 AS frame_idx,
             (d.doc_id * 37 + i.i * 17) % 2003 - 1001 AS v
           FROM documents d
           JOIN generate_series(0, 58) AS i(i) ON i.i < d.doc_id % 50 + 10
           WHERE d.doc_id % 3 = 1)
         SELECT asset_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(sum(v) * sum(v) AS BIGINT) AS dc_energy,
           CAST(sum(CASE WHEN i % 2 = 0 THEN v ELSE -v END) *
                sum(CASE WHEN i % 2 = 0 THEN v ELSE -v END) AS BIGINT)
             AS nyquist_energy,
           CAST(sum(v * v) AS BIGINT) AS frame_energy,
           CAST(count(*) AS INT) AS n_samples
         FROM s GROUP BY asset_id, frame_idx""",
    "mm05_avi_decode" ->
      """SELECT d.doc_id AS asset_id,
           ((d.doc_id % 6) + 2)::INT AS video_frames,
           ((d.doc_id % 5) + 2)::INT AS video_width,
           ((d.doc_id % 4) + 2)::INT AS video_height,
           (((d.doc_id % 6) + 3) // 2)::INT AS video_sampled,
           sum((d.doc_id * 29 + f.f * 11 + x.x * 7 + y.y * 13) % 256)::BIGINT
             AS video_px_sum
         FROM documents d
         JOIN generate_series(0, 7) AS f(f)
           ON f.f < d.doc_id % 6 + 2 AND f.f % 2 = 0
         JOIN generate_series(0, 6) AS x(x) ON x.x < d.doc_id % 5 + 2
         JOIN generate_series(0, 5) AS y(y) ON y.y < d.doc_id % 4 + 2
         WHERE d.doc_id % 3 = 2
         GROUP BY d.doc_id""",
    "mm08_mjpeg_decode" ->
      """SELECT doc_id AS asset_id,
           ((doc_id % 6) + 2)::INT AS frames_total,
           ((doc_id % 5) + 8)::INT AS width,
           ((doc_id % 4) + 8)::INT AS height,
           (((doc_id % 6) + 3) // 2)::INT AS frames_sampled
         FROM documents WHERE doc_id % 3 = 2""",
    "mm06_image_resize" ->
      """SELECT d.doc_id AS asset_id,
           ((d.doc_id % 7) + 1)::INT AS src_width,
           ((d.doc_id % 5) + 1)::INT AS src_height,
           sum((d.doc_id * 31
                + ((x.x * ((d.doc_id % 7) + 1)) // 4) * 7
                + ((y.y * ((d.doc_id % 5) + 1)) // 4) * 13) % 256)::BIGINT
             AS resized_px_sum
         FROM documents d
         JOIN generate_series(0, 3) AS x(x) ON true
         JOIN generate_series(0, 3) AS y(y) ON true
         WHERE d.doc_id % 3 = 0
         GROUP BY d.doc_id""",
    "mm07_audio_energy" ->
      """SELECT d.doc_id AS asset_id,
           (i.i // 16)::INT AS window_idx,
           sum(((d.doc_id * 37 + i.i * 17) % 2003 - 1001)
             * ((d.doc_id * 37 + i.i * 17) % 2003 - 1001))::BIGINT AS energy,
           count(*)::INT AS n_samples
         FROM documents d
         JOIN generate_series(0, 58) AS i(i) ON i.i < d.doc_id % 50 + 10
         WHERE d.doc_id % 3 = 1
         GROUP BY d.doc_id, i.i // 16""",
    "mm01_multimodal_meta" ->
      """SELECT doc_id AS asset_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
         octet_length(encode(text)) AS n_bytes,
         n_chars * 10 AS meta_duration_ms
         FROM documents""",
    "sm01_knn_bruteforce" ->
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
         scored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS cos
           FROM embeddings c, q WHERE c.vec_id <> q.vec_id),
         ranked AS (
           SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           FROM scored)
         SELECT query_id, rank, neighbor_id, round(cos, 6) AS cosine
         FROM ranked WHERE rank <= 5""",
    "sm05_hard_negatives" ->
      """WITH q AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 10),
         scored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             c.label AS neighbor_label,
             list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS cos
           FROM embeddings c, q WHERE c.label <> q.label),
         ranked AS (
           SELECT query_id, neighbor_id, neighbor_label, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           FROM scored)
         SELECT query_id, rank, neighbor_id, neighbor_label,
           round(cos, 6) AS cosine
         FROM ranked WHERE rank <= 5""",
    "ts22_ewma_smoothed" ->
      """WITH RECURSIVE s AS (
           SELECT user_id, epoch_us(ts) AS ts_us, value,
             row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS rn
           FROM events
         ), r AS (
           SELECT user_id, ts_us, rn, value AS smoothed FROM s WHERE rn = 1
           UNION ALL
           SELECT s.user_id, s.ts_us, s.rn,
             0.3::DOUBLE * s.value + (1 - 0.3::DOUBLE) * r.smoothed
           FROM s JOIN r ON s.user_id = r.user_id AND s.rn = r.rn + 1
         )
         SELECT user_id, ts_us, smoothed FROM r""",
    "ts23_series_coverage" ->
      """SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
         WHERE user_id IN (
           SELECT user_id FROM events GROUP BY user_id
           HAVING min(epoch_us(ts)) <= 1704153600000000
              AND max(epoch_us(ts)) >= 1706486400000000)""",
    "m13_durbin_watson" ->
      """SELECT user_id, round(num/den, 6) AS dw FROM (
           SELECT user_id,
             sum(CASE WHEN pv IS NOT NULL THEN (value-pv)*(value-pv) END) AS num,
             sum(value*value) AS den
           FROM (SELECT user_id, value,
                   lag(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS pv
                 FROM events) t
           GROUP BY user_id) x""",
    "tx05_rolling_fingerprint" ->
      """SELECT doc_id,
         (CASE WHEN h >= 9223372036854775808::HUGEINT
               THEN h - 18446744073709551616::HUGEINT ELSE h END)::BIGINT AS fingerprint
         FROM (
           SELECT doc_id, list_reduce(
             list_prepend(0::HUGEINT,
               list_transform(string_split(text,''), c -> ascii(c)::HUGEINT)),
             (h, b) -> (h * 1000000007 + b) % 18446744073709551616::HUGEINT) AS h
           FROM documents) t""",
    "mm02_multimodal_features" ->
      """WITH chars AS (
           SELECT doc_id, ascii(c) AS b
           FROM documents, unnest(string_split(text, '')) AS u(c)
         ), cnt AS (
           SELECT doc_id, b, count(*)::DOUBLE AS c FROM chars GROUP BY doc_id, b
         ), tot AS (
           SELECT doc_id, sum(c) AS n, sum(b * c) AS s FROM cnt GROUP BY doc_id
         ), ent AS (
           SELECT cnt.doc_id, any_value(tot.s / tot.n) AS byte_mean,
             -sum((cnt.c / tot.n) * log2(cnt.c / tot.n)) AS byte_entropy
           FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id
           GROUP BY cnt.doc_id
         )
         SELECT d.doc_id AS asset_id,
           CASE WHEN d.doc_id % 3 = 0 THEN 'image'
                WHEN d.doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
           length(d.text)::BIGINT AS n_bytes,
           e.byte_mean,
           round(e.byte_entropy, 6) AS byte_entropy,
           (CASE WHEN d.doc_id % 3 = 2 THEN greatest(1, (d.n_chars * 10) // 1000)
                 WHEN d.doc_id % 3 = 1 THEN greatest(1, (d.n_chars * 10) // 5000)
                 ELSE 1 END)::INT AS frames_sampled
         FROM documents d JOIN ent e ON d.doc_id = e.doc_id""",
    "m05_kpss" ->
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
         FROM st""",
    "m08_ljungbox" ->
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
         FROM q""",
    "m19_kpss_stat" ->
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
         SELECT user_id, round(ss / (n * sse), 6) AS kpss_stat FROM a""",
    "m20_adf_stat" ->
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
         FROM a""",
    "m14_breusch_godfrey" ->
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
         FROM q""",
    "m39_bg_stat" ->
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
         FROM s""",
    "m15_breusch_pagan" ->
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
         FROM pz""",
    "m40_bp_stat" ->
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
         FROM r GROUP BY user_id""",
    "m18_ljungbox_stat" ->
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
         FROM agg""",
    "ts24_trim" ->
      """SELECT user_id, ts_us, value FROM (
           SELECT user_id, ts_us, v AS value,
             count(v) OVER (PARTITION BY user_id ORDER BY ts_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seen,
             count(v) OVER (PARTITION BY user_id ORDER BY ts_us
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ahead
           FROM (SELECT user_id, epoch_us(ts) AS ts_us,
                   CASE WHEN value >= 5.0 THEN value END AS v FROM events) t0
         ) t WHERE seen > 0 AND ahead > 0""",
    "ts25_fill_nocb" ->
      """SELECT user_id, ts_us,
           coalesce(v, first_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts_us
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS value
         FROM (SELECT user_id, epoch_us(ts) AS ts_us,
                 CASE WHEN value >= 5.0 THEN value END AS v FROM events) t""",
    // the iterative Spark connected-components is checked against a
    // recursive-CTE reachability closure: r = min id reachable from each doc
    "cc01_dup_clusters" ->
      """WITH RECURSIVE t AS (
           SELECT doc_id, list_distinct(string_split(text,' ')) AS toks
           FROM documents WHERE doc_id < 200),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM t a, t b WHERE a.doc_id < b.doc_id
             AND len(list_filter(a.toks, x -> list_contains(b.toks, x)))::DOUBLE
                 / len(list_distinct(a.toks || b.toks)) >= 0.5),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         reach(id, r) AS (
           SELECT doc_id, doc_id FROM t
           UNION
           SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src)
         SELECT id AS doc_id, min(r) AS cluster_id,
           (id = min(r)) AS is_canonical
         FROM reach GROUP BY id""",
    "dd20_cluster_prune" ->
      """WITH RECURSIVE t AS (
           SELECT doc_id, list_distinct(string_split(text,' ')) AS toks
           FROM documents WHERE doc_id < 200),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM t a, t b WHERE a.doc_id < b.doc_id
             AND len(list_filter(a.toks, x -> list_contains(b.toks, x)))::DOUBLE
                 / len(list_distinct(a.toks || b.toks)) >= 0.5),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         reach(id, r) AS (
           SELECT doc_id, doc_id FROM t
           UNION
           SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src),
         cc AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
         q AS (SELECT doc_id, len(toks)::BIGINT AS quality FROM t)
         SELECT c.doc_id, c.cluster_id, q.quality,
           (row_number() OVER (PARTITION BY c.cluster_id
              ORDER BY q.quality DESC, c.doc_id ASC) = 1) AS keep
         FROM cc c JOIN q USING (doc_id)""",
    "smp12_leakage_free_split" ->
      """WITH RECURSIVE t AS (
           SELECT doc_id, list_distinct(string_split(text,' ')) AS toks
           FROM documents WHERE doc_id < 200),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM t a, t b WHERE a.doc_id < b.doc_id
             AND len(list_filter(a.toks, x -> list_contains(b.toks, x)))::DOUBLE
                 / len(list_distinct(a.toks || b.toks)) >= 0.5),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         reach(id, r) AS (
           SELECT doc_id, doc_id FROM t
           UNION
           SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src)
         SELECT id AS doc_id, min(r) AS cluster_id,
           (min(r) % 10)::INT AS split
         FROM reach GROUP BY id""",
    "dd09_dup_spans" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  range(greatest(len(t)-4,0)),
                  i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
                       t[i+4] || ' ' || t[i+5]))) AS sh FROM toks),
         dfreq AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh)
         SELECT s.doc_id, count(*) AS n_spans,
           count(*) FILTER (WHERE d.df > 1) AS n_dup_spans,
           count(*) FILTER (WHERE d.df > 1)::DOUBLE / count(*) AS dup_span_ratio
         FROM sh s JOIN dfreq d USING (sh)
         GROUP BY s.doc_id""",
    "smp13_sequence_packing" ->
      """WITH t AS (SELECT doc_id,
             len(string_split(coalesce(text,''),' '))::BIGINT AS n_tokens
           FROM documents),
         o AS (SELECT doc_id, n_tokens,
             coalesce(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS start_offset
           FROM t)
         SELECT doc_id, n_tokens, start_offset,
           (start_offset // 256)::BIGINT AS seq_start,
           (CASE WHEN n_tokens = 0 THEN start_offset // 256
                 ELSE (start_offset + n_tokens - 1) // 256 END)::BIGINT AS seq_end
         FROM o""",
    "smp14_packing_summary" ->
      """WITH t AS (SELECT doc_id,
             len(string_split(coalesce(text,''),' '))::BIGINT AS n_tokens
           FROM documents),
         o AS (SELECT doc_id, n_tokens,
             coalesce(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS start_offset
           FROM t),
         p AS (SELECT n_tokens,
             (start_offset // 256)::BIGINT AS seq_start,
             (CASE WHEN n_tokens = 0 THEN start_offset // 256
                   ELSE (start_offset + n_tokens - 1) // 256 END)::BIGINT AS seq_end
           FROM o)
         SELECT sum(n_tokens)::BIGINT AS total_tokens,
           count(*)::BIGINT AS n_docs,
           (max(seq_end) + 1)::BIGINT AS n_sequences,
           coalesce(sum(CASE WHEN seq_end > seq_start THEN 1 ELSE 0 END), 0)::BIGINT
             AS n_boundary_docs,
           ((max(seq_end) + 1) * 256 - sum(n_tokens))::BIGINT AS tail_waste_tokens
         FROM p""",
    // double arithmetic mirrored op-for-op (budget*w, tokens*cap, least,
    // divide) so the unrounded epochs column is bit-identical cross-engine
    "smp16_mixture_plan" ->
      """WITH t AS (SELECT source,
             len(string_split(coalesce(text,''),' '))::BIGINT AS n_tokens,
             CASE source WHEN 'src0' THEN 0.4 WHEN 'src1' THEN 0.35
                         WHEN 'src2' THEN 0.15 WHEN 'src3' THEN 0.1
                         ELSE 0.0 END AS w
           FROM documents)
         SELECT source, count(*)::BIGINT AS n_docs,
           sum(n_tokens)::BIGINT AS n_tokens, max(w) AS target_weight,
           least(100000.0 * max(w), sum(n_tokens)::DOUBLE * 4.0) AS alloc_tokens,
           CASE WHEN sum(n_tokens) = 0 THEN 0.0 ELSE
             least(100000.0 * max(w), sum(n_tokens)::DOUBLE * 4.0)
               / sum(n_tokens) END AS epochs
         FROM t GROUP BY source""",
    "smp17_mixture_upsample" ->
      """WITH t AS (SELECT doc_id, source,
             len(string_split(coalesce(text,''),' '))::BIGINT AS n_tokens,
             CASE source WHEN 'src0' THEN 0.4 WHEN 'src1' THEN 0.35
                         WHEN 'src2' THEN 0.15 WHEN 'src3' THEN 0.1
                         ELSE 0.0 END AS w
           FROM documents),
         e AS (SELECT source,
             CASE WHEN sum(n_tokens) = 0 THEN 0.0 ELSE
               least(100000.0 * max(w), sum(n_tokens)::DOUBLE * 4.0)
                 / sum(n_tokens) END AS epochs
           FROM t GROUP BY source),
         j AS (SELECT t.doc_id, t.source, t.n_tokens,
             (floor(e.epochs)::BIGINT + CASE
               WHEN list_sum(list_transform(range(8),
                   i -> (strpos('0123456789abcdef',
                     substr(md5(t.doc_id::VARCHAR), i + 1, 1)) - 1)
                     * 16.0^(7 - i))) / 16.0^8
                    < e.epochs - floor(e.epochs) THEN 1 ELSE 0 END) AS n
           FROM t JOIN e USING (source))
         SELECT doc_id, source, i AS copy, n_tokens
         FROM j, unnest(range(1, n + 1)) AS u(i)
         WHERE n >= 1""",
    // smp18: the same upsampled stream, given its deterministic global
    // training order — row_number over the md5(id:copy) ordering
    "smp18_corpus_shuffle" ->
      """WITH t AS (SELECT doc_id, source,
             len(string_split(coalesce(text,''),' '))::BIGINT AS n_tokens,
             CASE source WHEN 'src0' THEN 0.4 WHEN 'src1' THEN 0.35
                         WHEN 'src2' THEN 0.15 WHEN 'src3' THEN 0.1
                         ELSE 0.0 END AS w
           FROM documents),
         e AS (SELECT source,
             CASE WHEN sum(n_tokens) = 0 THEN 0.0 ELSE
               least(100000.0 * max(w), sum(n_tokens)::DOUBLE * 4.0)
                 / sum(n_tokens) END AS epochs
           FROM t GROUP BY source),
         j AS (SELECT t.doc_id, t.source, t.n_tokens,
             (floor(e.epochs)::BIGINT + CASE
               WHEN list_sum(list_transform(range(8),
                   i -> (strpos('0123456789abcdef',
                     substr(md5(t.doc_id::VARCHAR), i + 1, 1)) - 1)
                     * 16.0^(7 - i))) / 16.0^8
                    < e.epochs - floor(e.epochs) THEN 1 ELSE 0 END) AS n
           FROM t JOIN e USING (source)),
         up AS (SELECT doc_id, i AS copy
           FROM j, unnest(range(1, n + 1)) AS u(i)
           WHERE n >= 1)
         SELECT doc_id, copy, md5(doc_id || ':' || copy) AS shuffle_key,
           (row_number() OVER (ORDER BY md5(doc_id || ':' || copy),
             doc_id, copy) - 1)::BIGINT AS position
         FROM up""",
    // smp19: running token total in md5 order, kept while the tokens
    // BEFORE the doc are under the budget (sum OVER is HUGEINT -> BIGINT)
    "smp19_token_budget_sample" ->
      """WITH t AS (SELECT doc_id,
             len(string_split(coalesce(text,''),' '))::BIGINT AS n_tokens,
             md5(doc_id::VARCHAR) AS k
           FROM documents),
         c AS (SELECT doc_id, n_tokens,
             coalesce(sum(n_tokens) OVER (ORDER BY k, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS sample_offset
           FROM t)
         SELECT doc_id, n_tokens, sample_offset
         FROM c WHERE sample_offset < 20000""",
    // next-fit replayed row-by-row: the recursion advances one rn per
    // domain per step, so depth = docs-per-domain (100 here), and the five
    // domains progress in parallel through the same CTE
    "smp15_bin_packing" ->
      """WITH RECURSIVE t AS (SELECT doc_id,
             len(string_split(coalesce(text,''),' '))::BIGINT AS n_tokens,
             (doc_id // 100)::BIGINT AS domain,
             row_number() OVER (PARTITION BY doc_id // 100 ORDER BY doc_id) AS rn
           FROM documents),
         p AS (
           SELECT domain, rn, doc_id, n_tokens, 0::BIGINT AS bin,
             n_tokens AS fill
           FROM t WHERE rn = 1
           UNION ALL
           SELECT t.domain, t.rn, t.doc_id, t.n_tokens,
             CASE WHEN p.fill + t.n_tokens > 256 THEN p.bin + 1 ELSE p.bin END,
             CASE WHEN p.fill + t.n_tokens > 256 THEN t.n_tokens
                  ELSE p.fill + t.n_tokens END
           FROM p JOIN t ON t.domain = p.domain AND t.rn = p.rn + 1)
         SELECT doc_id, n_tokens, domain, bin FROM p""",
    "dd22_incremental_exact" ->
      """WITH idx AS (SELECT md5(coalesce(text,'')) AS fp, min(doc_id) AS keep_id
                      FROM documents WHERE doc_id < 250 GROUP BY 1),
         b AS (SELECT doc_id, md5(coalesce(text,'')) AS fp
               FROM documents WHERE doc_id >= 250),
         bm AS (SELECT fp, min(doc_id) AS batch_min FROM b GROUP BY 1)
         SELECT b.doc_id, b.fp,
           (i.keep_id IS NOT NULL OR bm.batch_min < b.doc_id) AS is_dup,
           CASE WHEN i.keep_id IS NOT NULL THEN i.keep_id
                WHEN bm.batch_min < b.doc_id THEN bm.batch_min END AS dup_of
         FROM b LEFT JOIN idx i USING (fp) JOIN bm USING (fp)""",
    // derived from the committed dd03 golden CSV (pairs touching id >= 250),
    // not frozen from a run — see the queries-side comment and the manifest
    "dd23_incremental_minhash_digest" ->
      """SELECT '3746a3a73b0c7f551a5c15eac7a3ab5c' AS digest, 21::BIGINT AS n_pairs""",
    // derived from the dd03 golden the same way: its 13 pairs with exactly
    // one side < 250 (the stream operator emits only stream-x-index pairs)
    "st05_streaming_idx_neardup_digest" ->
      """SELECT 'd9a0231808340962e80b40f0d7b8ec35' AS digest, 13::BIGINT AS n_pairs""",
    // positional 5-gram coverage removal; the O(tokens x starts) lambda scan
    // here is oracle-only — the Spark side merges sorted starts in one pass
    "dd21_remove_dup_spans" ->
      """WITH toks AS (SELECT doc_id, string_split(coalesce(text,''),' ') AS t
                       FROM documents),
         sp AS (SELECT doc_id, i AS s,
                  t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]||' '||t[i+5] AS sh
                FROM toks, unnest(range(greatest(len(t)-4,0))) AS u(i)),
         dup AS (SELECT sh FROM sp GROUP BY sh HAVING count(DISTINCT doc_id) >= 2),
         cov AS (SELECT doc_id, list(DISTINCT s) AS starts
                 FROM sp JOIN dup USING (sh) GROUP BY doc_id),
         j AS (SELECT toks.doc_id, t, coalesce(starts, []) AS starts
               FROM toks LEFT JOIN cov USING (doc_id)),
         k AS (SELECT doc_id, t, list_filter(t, (x, i) ->
                 len(list_filter(starts, s -> s+1 <= i AND i <= s+5)) = 0) AS kept
               FROM j)
         SELECT doc_id,
           coalesce(array_to_string(kept, ' '), '') AS clean_text,
           len(t)::BIGINT AS n_words, len(kept)::BIGINT AS n_kept
         FROM k""",
    "tx10_repetition" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok
                      FROM documents),
         c AS (SELECT doc_id, tok, count(*) AS cnt FROM tok GROUP BY 1, 2)
         SELECT doc_id,
           sum(cnt)::BIGINT AS n_words,
           sum(cnt*length(tok))::DOUBLE / sum(cnt) AS mean_word_len,
           (sum(cnt) - count(*))::DOUBLE / sum(cnt) AS dup_word_ratio,
           max(cnt)::DOUBLE / sum(cnt) AS top_word_ratio,
           coalesce(sum(cnt) FILTER (WHERE regexp_matches(tok, '[A-Za-z]')), 0)::DOUBLE
             / sum(cnt) AS alpha_word_ratio
         FROM c GROUP BY doc_id""",
    "em01_centroids" ->
      """SELECT label, i AS pos, round(avg(embedding[i+1]::DOUBLE), 6) AS centroid
         FROM embeddings, unnest(range(len(embedding))) AS t(i)
         GROUP BY 1, 2""",
    // arithmetic mirrors the Spark expressions op-for-op (subtract, then
    // multiply by the precomputed 255/(mx-mn) quotient) so floor() and the
    // sequential MSE fold are bit-identical across engines
    "em02_quantize8" ->
      """WITH e AS (SELECT vec_id, embedding,
             list_aggregate(embedding, 'min')::DOUBLE AS mn,
             list_aggregate(embedding, 'max')::DOUBLE AS mx FROM embeddings),
         q AS (SELECT vec_id, mn, mx, embedding,
             list_transform(embedding,
               v -> floor((v::DOUBLE - mn) * (255.0 / (mx - mn)))) AS code FROM e)
         SELECT vec_id, list_sum(code)::BIGINT AS code_sum,
           round(list_sum(list_transform(range(len(embedding)), i ->
             (embedding[i+1]::DOUBLE - (mn + code[i+1] * ((mx - mn) / 255.0)))
             * (embedding[i+1]::DOUBLE - (mn + code[i+1] * ((mx - mn) / 255.0)))))
             / len(embedding), 6) AS recon_mse
         FROM q""",
    "smp01_stratified_sample" ->
      """SELECT doc_id, lang, source FROM documents
         WHERE md5(text) < CASE
           WHEN source = 'src4' THEN 'g'
           WHEN source IN ('src0', 'src1') THEN 'c0000000'
           WHEN source IN ('src2', 'src3') THEN '80000000'
           ELSE '40000000' END""",
    "ts27_outliers" ->
      """SELECT event_id, user_id, value, round(z, 6) AS z_score FROM (
           SELECT event_id, user_id, value,
             (value - avg(value) OVER w) / stddev_samp(value) OVER w AS z
           FROM events WINDOW w AS (PARTITION BY user_id)) t
         WHERE abs(z) > 2.5""",
    "ts28_rollstd" ->
      """SELECT user_id, ts_us, round(s, 6) AS roll_std FROM (
         SELECT user_id, epoch_us(ts) AS ts_us,
           stddev_samp(value) OVER w AS s, count(value) OVER w AS c
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
         ) t WHERE c = 5""",
    "ts29_beta" ->
      """WITH daily AS (
           SELECT user_id, epoch_us(date_trunc('day', ts)) AS day_us,
             avg(value) AS v
           FROM events GROUP BY 1, 2),
         market AS (SELECT day_us, avg(v) AS m FROM daily GROUP BY 1)
         SELECT user_id, count(*) AS n_obs,
           round(covar_samp(v, m) / var_samp(m), 6) AS beta,
           round(corr(v, m), 6) AS r
         FROM daily JOIN market USING (day_us)
         GROUP BY user_id""",
    "ts30_decompose" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
         t AS (SELECT user_id, ts_us, value,
             CASE WHEN count(value) OVER wf = 7 THEN avg(value) OVER wf END AS trend,
             (row_number() OVER w - 1) % 7 AS phase
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us),
             wf AS (PARTITION BY user_id ORDER BY ts_us
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         d AS (SELECT user_id, ts_us, phase, trend, value - trend AS detr FROM t),
         s AS (SELECT user_id, ts_us, trend, detr,
             avg(detr) OVER (PARTITION BY user_id, phase) AS seasonal
           FROM d)
         SELECT user_id, ts_us, round(trend, 6) AS trend,
           round(seasonal, 6) AS seasonal, round(detr - seasonal, 6) AS resid
         FROM s""",
    "ts63_decompose_even" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
         t AS (SELECT user_id, ts_us, value,
             CASE WHEN count(value) OVER wf = 5 THEN
               (sum(value) OVER wf
                 - (first_value(value) OVER wf + last_value(value) OVER wf) / 2) / 4
             END AS trend,
             (row_number() OVER w - 1) % 4 AS phase
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us),
             wf AS (PARTITION BY user_id ORDER BY ts_us
                    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)),
         d AS (SELECT user_id, ts_us, phase, trend, value - trend AS detr FROM t),
         s AS (SELECT user_id, ts_us, trend, detr,
             avg(detr) OVER (PARTITION BY user_id, phase) AS seasonal
           FROM d)
         SELECT user_id, ts_us, round(trend + 1e-9, 6) AS trend,
           round(seasonal + 1e-9, 6) AS seasonal,
           round(detr - seasonal + 1e-9, 6) AS resid
         FROM s""",
    "ts31_ccf" ->
      """WITH daily AS (
           SELECT user_id, epoch_us(date_trunc('day', ts)) AS day_us,
             avg(CASE WHEN event_type = 'click' THEN value END) AS x,
             avg(CASE WHEN event_type = 'view' THEN value END) AS y
           FROM events GROUP BY 1, 2),
         l AS (SELECT user_id, x, y,
             lead(y, 1) OVER w AS y1, lead(y, 2) OVER w AS y2
           FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day_us))
         SELECT user_id, count(*) AS n_obs, round(corr(x, y), 6) AS ccf_0,
           round(corr(x, y1), 6) AS ccf_1, round(corr(x, y2), 6) AS ccf_2
         FROM l GROUP BY user_id""",
    "ts32_rollmedian" ->
      """SELECT user_id, ts_us, med AS roll_med FROM (
         SELECT user_id, epoch_us(ts) AS ts_us,
           median(value) OVER w AS med, count(value) OVER w AS c
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         ) t WHERE c = 7""",
    // nearest-rank: the ceil(0.9*10) = 9th smallest element of the full
    // window — element selection, no interpolation, engine-exact
    "ts49_rollquantile" ->
      """SELECT user_id, ts_us, list_sort(l)[9] AS roll_p90 FROM (
         SELECT user_id, epoch_us(ts) AS ts_us,
           list(value) OVER w AS l, count(value) OVER w AS c
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
         ) t WHERE c = 10""",
    "ts33_cusum" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
         st AS (SELECT user_id, ts_us, value,
             avg(value) OVER (PARTITION BY user_id) AS mu,
             stddev_samp(value) OVER (PARTITION BY user_id)
               * sqrt(count(value) OVER (PARTITION BY user_id)) AS den
           FROM e),
         cs AS (SELECT user_id, ts_us,
             sum(value - mu) OVER (PARTITION BY user_id ORDER BY ts_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / den AS s
           FROM st),
         rk AS (SELECT user_id, ts_us, abs(s) AS a,
             row_number() OVER (PARTITION BY user_id ORDER BY abs(s) DESC, ts_us) AS rk
           FROM cs)
         SELECT user_id, ts_us AS changepoint_ts, round(a, 6) AS cusum_stat
         FROM rk WHERE rk = 1""",
    "ev01_sessions" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
         flag AS (SELECT user_id, ts_us, value,
             CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
                  WHEN ts_us - lag(ts_us) OVER w > 14400000000 THEN 1 ELSE 0 END AS f
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
         sess AS (SELECT user_id, ts_us, value,
             sum(f) OVER (PARTITION BY user_id ORDER BY ts_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_no
           FROM flag)
         SELECT user_id, session_no, min(ts_us) AS session_start,
           max(ts_us) AS session_end, max(ts_us) - min(ts_us) AS duration_us,
           count(*) AS n_events, round(sum(value), 6) AS sum_value
         FROM sess GROUP BY user_id, session_no""",
    "ev02_funnel" ->
      """WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS t_1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t_2 FROM events e
           JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t_1
           GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t_3 FROM events e
           JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t_2
           GROUP BY e.user_id)
         SELECT s1.user_id, t_1, t_2, t_3,
           1 + CASE WHEN t_2 IS NULL THEN 0 ELSE 1 END
             + CASE WHEN t_3 IS NULL THEN 0 ELSE 1 END AS reached
         FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""",
    "ev11_conversion_latency" ->
      """WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS t_1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t_2 FROM events e
           JOIN s1 USING (user_id)
           WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s1.t_1
           GROUP BY e.user_id),
         f AS (SELECT s1.user_id, t_1, t_2, (t_2 - t_1)::DOUBLE AS lat
               FROM s1 LEFT JOIN s2 USING (user_id))
         SELECT count(*) AS n_started,
           CAST(sum(CASE WHEN t_2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_converted,
           round(avg(CASE WHEN t_2 IS NOT NULL THEN 1.0 ELSE 0.0 END), 6)
             AS conversion_rate,
           quantile_cont(lat, 0.25) AS lat_p25_us,
           quantile_cont(lat, 0.5) AS lat_p50_us,
           quantile_cont(lat, 0.75) AS lat_p75_us,
           quantile_cont(lat, 0.9) AS lat_p90_us
         FROM f""",
    "ev12_interval_join" ->
      """WITH c AS (SELECT DISTINCT user_id, epoch_us(ts) AS start_us,
             epoch_us(ts) + 7200000000 AS end_us
           FROM events WHERE event_type = 'click'),
         v AS (SELECT user_id, epoch_us(ts) AS ts_us
           FROM events WHERE event_type = 'view')
         SELECT c.user_id, c.start_us, count(v.ts_us)::BIGINT AS n_views
         FROM c LEFT JOIN v ON v.user_id = c.user_id
           AND v.ts_us >= c.start_us AND v.ts_us < c.end_us
         GROUP BY 1, 2""",
    "ev03_retention" ->
      """WITH active AS (SELECT DISTINCT user_id,
             epoch_us(date_trunc('day', ts)) AS day_us FROM events),
         coh AS (SELECT user_id, min(day_us) AS cohort_day_us
           FROM active GROUP BY user_id)
         SELECT cohort_day_us,
           (day_us - cohort_day_us) // 86400000000 AS day_offset,
           count(DISTINCT user_id) AS n_users
         FROM active JOIN coh USING (user_id) GROUP BY 1, 2""",
    "m21_theilsen" ->
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
         FROM idx JOIN sl USING (user_id) GROUP BY idx.user_id, sl.slope""",
    "tx11_gopher_filter" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok
                       FROM documents),
         c AS (SELECT doc_id, tok, count(*) AS cnt FROM tok GROUP BY 1, 2),
         sig AS (SELECT doc_id,
             sum(cnt)::BIGINT AS n_words,
             coalesce(sum(cnt) FILTER (WHERE regexp_matches(tok, '[A-Za-z]')), 0)::BIGINT
               AS n_alpha,
             coalesce(sum(cnt) FILTER (WHERE lower(tok) IN (${asciiInList(graft.text.StopWords.en)})), 0)::BIGINT
               AS n_stop,
             sum(cnt * length(tok))::DOUBLE / sum(cnt) AS mean_word_len,
             coalesce(sum(cnt) FILTER (WHERE regexp_matches(tok, '[A-Za-z]')), 0)::DOUBLE
               / sum(cnt) AS alpha_word_ratio,
             (sum(cnt) - count(*))::DOUBLE / sum(cnt) AS dup_word_ratio
           FROM c GROUP BY doc_id),
         fl AS (SELECT *,
             CASE WHEN n_words >= 10 AND n_words <= 100000 THEN 1 ELSE 0 END AS f_word_count,
             CASE WHEN mean_word_len >= 3.0 AND mean_word_len <= 12.0 THEN 1 ELSE 0 END AS f_mean_len,
             CASE WHEN alpha_word_ratio >= 0.8 THEN 1 ELSE 0 END AS f_alpha,
             CASE WHEN dup_word_ratio <= 0.4 THEN 1 ELSE 0 END AS f_dup,
             CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS f_stop
           FROM sig)
         SELECT doc_id, n_words, n_alpha, n_stop, mean_word_len,
           alpha_word_ratio, dup_word_ratio,
           f_word_count, f_mean_len, f_alpha, f_dup, f_stop,
           f_word_count * f_mean_len * f_alpha * f_dup * f_stop AS keep
         FROM fl""",
    "tx12_bigram_topk" ->
      """WITH w AS (SELECT string_split(text, ' ') AS toks FROM documents),
         b AS (SELECT unnest(list_transform(range(len(toks) - 1),
                 i -> toks[i+1] || ' ' || toks[i+2])) AS bigram FROM w)
         SELECT bigram, count(*) AS n FROM b GROUP BY bigram
         ORDER BY n DESC, bigram LIMIT 30""",
    // quantile_cont == Spark's exact linear-interpolation percentile
    // (bit-identical, proven by ts26), so the clipped values are unrounded
    "ts34_winsorize" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
         q AS (SELECT user_id, quantile_cont(value, 0.05) AS lo,
             quantile_cont(value, 0.95) AS hi
           FROM e GROUP BY user_id)
         SELECT user_id, ts_us,
           round(least(greatest(value, lo), hi), 6) AS value_winsorized
         FROM e JOIN q USING (user_id)""",
    // normal equations from exact integer sums on the 1e-6 value grid: every
    // intermediate is integer-exact, so slope/intercept are bit-identical to
    // the Spark side (streaming regr_* moments differ in the last ulp)
    "ts35_trend" ->
      """WITH idx AS (SELECT user_id, round(value * 1000000, 0) AS vq,
             CAST(row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) - 1
               AS DOUBLE) AS x
           FROM events WHERE value IS NOT NULL),
         s AS (SELECT user_id, count(*) AS n,
             sum(x::BIGINT) AS sx, sum((x*x)::BIGINT) AS sxx,
             sum(vq::BIGINT) AS sy, sum((x*vq)::BIGINT) AS sxy
           FROM idx GROUP BY user_id),
         f AS (SELECT user_id, n,
             (n*sxy - sx*sy)::DOUBLE / (n*sxx - sx*sx)::DOUBLE AS slope_u,
             sx::DOUBLE AS sxd, sy::DOUBLE AS syd
           FROM s)
         SELECT user_id, n AS n_obs,
           round(slope_u / 1000000, 6) AS slope,
           round((syd - slope_u * sxd) / n::DOUBLE / 1000000, 6) AS intercept
         FROM f""",
    "ts36_rollrange" ->
      """SELECT user_id, ts_us, mn AS roll_min, mx AS roll_max,
           mx - mn AS roll_range FROM (
         SELECT user_id, epoch_us(ts) AS ts_us,
           min(value) OVER w AS mn, max(value) OVER w AS mx,
           count(value) OVER w AS c
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         ) t WHERE c = 7""",
    // avg of exact int64 gaps: sums and counts are exact in both engines,
    // the single double division is deterministic — unrounded
    "ev04_transitions" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
         flag AS (SELECT user_id, ts_us, event_type,
             CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
                  WHEN ts_us - lag(ts_us) OVER w > 14400000000 THEN 1 ELSE 0 END AS f
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
         sess AS (SELECT user_id, ts_us, event_type,
             sum(f) OVER (PARTITION BY user_id ORDER BY ts_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
           FROM flag),
         nx AS (SELECT event_type AS from_type,
             lead(event_type) OVER w2 AS to_type,
             lead(ts_us) OVER w2 - ts_us AS gap
           FROM sess WINDOW w2 AS (PARTITION BY user_id, session_no ORDER BY ts_us))
         SELECT from_type, to_type, count(*) AS n_transitions,
           avg(gap) AS avg_gap_us
         FROM nx WHERE to_type IS NOT NULL GROUP BY 1, 2""",
    "tx13_unigram_logprob" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                      FROM documents),
         c AS (SELECT doc_id, tok, count(*) AS cnt FROM tok GROUP BY 1, 2),
         v AS (SELECT tok, sum(cnt) AS tf FROM c GROUP BY tok),
         t AS (SELECT sum(tf)::DOUBLE AS total FROM v)
         SELECT doc_id, sum(cnt)::BIGINT AS n_tokens,
           round(-sum(cnt * ln(tf::DOUBLE / total)) / sum(cnt), 6)
             AS avg_neg_logprob
         FROM c JOIN v USING (tok), t GROUP BY doc_id""",
    // ranked on the 6-decimal-rounded score with the token as tie-break:
    // a last-ULP ln() difference between engines cannot flip the order
    "tx14_tfidf_top" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                      FROM documents),
         c AS (SELECT doc_id, tok, count(*) AS cnt FROM tok GROUP BY 1, 2),
         d AS (SELECT tok, count(*) AS df FROM c GROUP BY tok),
         n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
         s AS (SELECT doc_id, tok, round(cnt * ln(n_docs / df), 6) AS tfidf
           FROM c JOIN d USING (tok), n),
         r AS (SELECT doc_id, tok, tfidf,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY tfidf DESC, tok) AS rnk FROM s)
         SELECT doc_id, rnk, tok, tfidf FROM r WHERE rnk <= 3""",
    "em03_inertia" ->
      """WITH p AS (SELECT label, vec_id, i AS pos, embedding[i+1]::DOUBLE AS v
             FROM embeddings, unnest(range(len(embedding))) AS t(i)),
         c AS (SELECT label, pos, avg(v) AS cv FROM p GROUP BY 1, 2)
         SELECT label, count(DISTINCT vec_id) AS n_vectors,
           round(sum((v - cv) * (v - cv)) / count(DISTINCT vec_id), 6) AS inertia
         FROM p JOIN c USING (label, pos) GROUP BY label""",
    "em07_silhouette" ->
      """WITH p AS (SELECT label, vec_id, i AS pos, embedding[i+1]::DOUBLE AS v
             FROM embeddings, unnest(range(len(embedding))) AS t(i)),
         c AS (SELECT label AS g, pos, avg(v) AS cv FROM p GROUP BY 1, 2),
         d AS (SELECT p.label, p.vec_id, c.g, sum((p.v - c.cv) * (p.v - c.cv)) AS d2
               FROM p JOIN c USING (pos) GROUP BY 1, 2, 3),
         own AS (SELECT label, vec_id, sqrt(d2) AS a FROM d WHERE label = g),
         oth AS (SELECT label, vec_id, sqrt(min(d2)) AS b FROM d
                 WHERE label <> g GROUP BY 1, 2)
         SELECT label, count(*) AS n_vectors,
           round(avg((b - a) / greatest(a, b)), 6) AS silhouette
         FROM own JOIN oth USING (label, vec_id) GROUP BY label""",
    // the level/trend recursion repeats the level expression inside the
    // trend term exactly as the Scala kernel orders it — bit-exact unrounded
    "m22_holt_smoothed" ->
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
         SELECT user_id, ts_us, level, trend FROM r""",
    "ts37_seasonal_strength" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
         t AS (SELECT user_id, ts_us, value,
             CASE WHEN count(value) OVER wf = 7 THEN avg(value) OVER wf END AS trend,
             (row_number() OVER w - 1) % 7 AS phase
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us),
             wf AS (PARTITION BY user_id ORDER BY ts_us
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         d AS (SELECT user_id, ts_us, phase, trend, value - trend AS detr FROM t),
         s AS (SELECT user_id, ts_us, trend, detr,
             avg(detr) OVER (PARTITION BY user_id, phase) AS seasonal
           FROM d)
         SELECT user_id, count(*) AS n_obs,
           round(greatest(0.0, 1.0 - var_samp(detr - seasonal)
             / nullif(var_samp(seasonal + (detr - seasonal)), 0)), 6)
             AS seasonal_strength,
           round(greatest(0.0, 1.0 - var_samp(detr - seasonal)
             / nullif(var_samp(trend + (detr - seasonal)), 0)), 6)
             AS trend_strength
         FROM s WHERE trend IS NOT NULL GROUP BY user_id""",
    "ev05_session_stats" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
         flag AS (SELECT user_id, ts_us, value,
             CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
                  WHEN ts_us - lag(ts_us) OVER w > 14400000000 THEN 1 ELSE 0 END AS f
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
         sess AS (SELECT user_id, ts_us, value,
             sum(f) OVER (PARTITION BY user_id ORDER BY ts_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
           FROM flag),
         agg AS (SELECT user_id, session_no,
             max(ts_us) - min(ts_us) AS duration_us,
             count(*) AS n_events, sum(value) AS sum_value
           FROM sess GROUP BY user_id, session_no)
         SELECT count(*) AS n_sessions,
           quantile_cont(duration_us, 0.5) AS p50_duration_us,
           quantile_cont(duration_us, 0.9) AS p90_duration_us,
           quantile_cont(n_events, 0.5) AS p50_events,
           round(avg(sum_value), 6) AS avg_session_value
         FROM agg""",
    "q05_nation_pairs" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           round(sum(round(l_extendedprice * (1 - l_discount) * 100, 0)) / 100, 2)
             AS revenue,
           count(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation sn ON s_nationkey = sn.n_nationkey
         JOIN nation cn ON c_nationkey = cn.n_nationkey
         GROUP BY 1, 2""",
    "tx15_zipf" ->
      """WITH v AS (SELECT tok, count(*) AS n FROM (
             SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
           GROUP BY tok),
         r AS (SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rnk FROM v)
         SELECT count(*) AS n_vocab,
           round(regr_slope(ln(n::DOUBLE), ln(rnk::DOUBLE)), 6) AS zipf_slope,
           round(regr_intercept(ln(n::DOUBLE), ln(rnk::DOUBLE)), 6) AS zipf_intercept
         FROM r""",
    "ts38_drawdown" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
         r AS (SELECT user_id, ts_us,
             max(value) OVER (PARTITION BY user_id ORDER BY ts_us
               ROWS UNBOUNDED PRECEDING) - value AS dd
           FROM e),
         m AS (SELECT user_id, ts_us, dd,
             max(dd) OVER (PARTITION BY user_id) AS mx FROM r)
         SELECT user_id, max(dd) AS max_drawdown, min(ts_us) AS trough_ts_us
         FROM m WHERE dd = mx GROUP BY user_id""",
    "ts39_gaps" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
         g AS (SELECT user_id,
             ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS gap
           FROM e)
         SELECT user_id, count(*) AS n_gaps, max(gap) AS max_gap,
           sum(gap)::BIGINT AS sum_gap, quantile_cont(gap, 0.5) AS p50_gap
         FROM g WHERE gap IS NOT NULL GROUP BY user_id""",
    "ts40_entropy" ->
      """WITH e AS (SELECT user_id, value FROM events WHERE value IS NOT NULL),
         s AS (SELECT user_id, value,
             min(value) OVER (PARTITION BY user_id) AS mn,
             max(value) OVER (PARTITION BY user_id) AS mx
           FROM e),
         b AS (SELECT user_id,
             least(9, coalesce(floor((value - mn) * 10 / nullif(mx - mn, 0)), 0))::INT AS bin
           FROM s),
         h AS (SELECT user_id, bin, count(*) AS c FROM b GROUP BY user_id, bin),
         t AS (SELECT user_id, bin, c,
             sum(c) OVER (PARTITION BY user_id) AS n FROM h)
         SELECT user_id, sum(c)::BIGINT AS n_obs, count(*)::BIGINT AS n_bins_used,
           round(-sum((c::DOUBLE / n) * ln(c::DOUBLE / n)), 6) AS entropy
         FROM t GROUP BY user_id""",
    "ts41_crossings" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
           WHERE value IS NOT NULL),
         s AS (SELECT user_id, ts_us,
             (value > avg(value) OVER (PARTITION BY user_id))::INT AS above
           FROM e),
         c AS (SELECT user_id, count(*) AS n_obs, sum(above)::BIGINT AS n_above,
             sum(CASE WHEN prev IS NOT NULL AND above <> prev THEN 1 ELSE 0 END)::BIGINT
               AS n_crossings
           FROM (SELECT user_id, above,
               lag(above) OVER (PARTITION BY user_id ORDER BY ts_us) AS prev
             FROM s) p GROUP BY user_id),
         runs AS (SELECT user_id, count(*) AS len
           FROM (SELECT user_id, above,
               row_number() OVER (PARTITION BY user_id ORDER BY ts_us)
                 - row_number() OVER (PARTITION BY user_id, above ORDER BY ts_us)
                 AS grp
             FROM s) r WHERE above = 1 GROUP BY user_id, grp),
         l AS (SELECT user_id, max(len) AS longest_above_run FROM runs GROUP BY user_id)
         SELECT c.user_id, c.n_obs, c.n_above, c.n_crossings,
           coalesce(l.longest_above_run, 0) AS longest_above_run
         FROM c LEFT JOIN l ON c.user_id = l.user_id""",
    "dd10_shingle_commonality" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  range(greatest(len(t)-2,0)),
                  i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS sh FROM toks),
         df AS (SELECT sh, count(*) AS ndocs FROM sh GROUP BY sh)
         SELECT doc_id, count(*) AS n_shingles,
           sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END)::BIGINT AS n_shared,
           sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*) AS shared_ratio
         FROM sh JOIN df USING (sh) GROUP BY doc_id""",
    "tx16_top_ngrams" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         g AS (SELECT doc_id, unnest(list_transform(range(len(toks) - 4),
                 i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
                      || ' ' || toks[i+4] || ' ' || toks[i+5])) AS ngram FROM w)
         SELECT ngram, count(*) AS n, count(DISTINCT doc_id) AS n_docs
         FROM g GROUP BY ngram ORDER BY n DESC, ngram LIMIT 20""",
    "tx18_top_ngrams_sketched" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         g AS (SELECT doc_id, unnest(list_transform(range(len(toks) - 4),
                 i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
                      || ' ' || toks[i+4] || ' ' || toks[i+5])) AS ngram FROM w)
         SELECT ngram, count(*) AS n, count(DISTINCT doc_id) AS n_docs
         FROM g GROUP BY ngram HAVING count(*) >= 3
         ORDER BY n DESC, ngram LIMIT 20""",
    "smp02_quality_tiers" ->
      """WITH s AS (
           SELECT doc_id, text,
             len(string_split(text,' '))::DOUBLE AS n_tokens,
             (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))::DOUBLE / length(text) AS punct_ratio,
             len(list_filter(string_split(text,' '), x -> x IN ('the','a','an','and','or','of','to','in','is','are','was','that','it','on','for','with','as','this')))::DOUBLE
               / len(string_split(text,' ')) AS stopword_ratio
           FROM documents),
         q AS (SELECT doc_id, text,
             round(greatest(0.0, least(1.0,
               0.25 * least(n_tokens / 20.0, 1.0) +
               0.25 * least(stopword_ratio * 5.0, 1.0) +
               0.25 * (1.0 - least(punct_ratio * 4.0, 1.0)) +
               0.25)), 6) AS quality_score
           FROM s),
         t AS (SELECT doc_id, text, quality_score,
             CASE WHEN quality_score >= 0.85 THEN 'high'
                  WHEN quality_score >= 0.78 THEN 'mid'
                  ELSE 'low' END AS tier
           FROM q)
         SELECT doc_id, tier, quality_score FROM t
         WHERE md5(text) < CASE tier WHEN 'high' THEN 'g'
           WHEN 'mid' THEN '40000000' ELSE '10000000' END""",
    "em04_centroid_cosine" ->
      """WITH c AS (SELECT label AS g, i AS pos, avg(embedding[i+1]::DOUBLE) AS c
           FROM embeddings, unnest(range(len(embedding))) AS t(i)
           GROUP BY 1, 2)
         SELECT a.g AS g1, b.g AS g2,
           round(sum(a.c * b.c) / nullif(sqrt(sum(a.c * a.c)) * sqrt(sum(b.c * b.c)), 0), 6)
             AS cosine
         FROM c a JOIN c b ON a.pos = b.pos AND a.g < b.g
         GROUP BY a.g, b.g""",
    "ev06_interevent" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
         g AS (SELECT event_type,
             ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS gap
           FROM e)
         SELECT event_type, count(*) AS n_gaps, max(gap) AS max_gap_us,
           sum(gap)::BIGINT AS sum_gap_us, quantile_cont(gap, 0.5) AS p50_gap_us
         FROM g WHERE gap IS NOT NULL GROUP BY event_type""",
    "ts42_mad" ->
      """WITH e AS (SELECT user_id, value FROM events WHERE value IS NOT NULL),
         m AS (SELECT user_id, value,
             quantile_cont(value, 0.5) OVER (PARTITION BY user_id) AS med
           FROM e)
         SELECT user_id, count(*) AS n_obs, max(med) AS median,
           quantile_cont(abs(value - med), 0.5) AS mad
         FROM m GROUP BY user_id""",
    "ev07_bursts" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
         b AS (SELECT user_id, count(*) OVER (PARTITION BY user_id ORDER BY ts_us
             RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW) AS burst
           FROM e)
         SELECT user_id, count(*) AS n_events, max(burst) AS max_burst
         FROM b GROUP BY user_id""",
    "q06_ship_priority" ->
      """SELECT l_orderkey, epoch_us(o_orderdate) AS orderdate_us,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
           AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
         GROUP BY l_orderkey, orderdate_us
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "m23_pacf" ->
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
         FROM q""",
    "m24_coint_eg" ->
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
         FROM a""",
    "m25_granger" ->
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
         FROM f""",
    "ts43_rollcorr" ->
      """WITH daily AS (
           SELECT user_id, epoch_us(date_trunc('day', ts)) AS day_us,
             avg(value) AS v
           FROM events GROUP BY 1, 2
         ), market AS (SELECT day_us, avg(v) AS m FROM daily GROUP BY 1),
         j AS (SELECT user_id, day_us, v, m FROM daily JOIN market USING (day_us)),
         r AS (
           SELECT user_id, day_us, corr(v, m) OVER w AS rc, count(*) OVER w AS cnt
           FROM j WINDOW w AS (PARTITION BY user_id ORDER BY day_us
                               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         )
         SELECT user_id, day_us, round(rc, 6) AS roll_corr FROM r WHERE cnt = 7""",
    "ts44_halflife" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
                    WHERE value IS NOT NULL),
         p AS (SELECT user_id, value,
             lag(value) OVER (PARTITION BY user_id ORDER BY ts_us) AS prev
           FROM e),
         r AS (SELECT user_id, count(*) AS n_pairs,
             regr_slope(value, prev) AS phi
           FROM p WHERE prev IS NOT NULL GROUP BY user_id)
         SELECT user_id, n_pairs, round(phi, 6) AS phi,
           round(CASE WHEN phi > 0 AND phi < 1 THEN -ln(2)/ln(phi) END, 6)
             AS half_life
         FROM r""",
    "ts45_spearman" ->
      """WITH daily AS (
           SELECT user_id, epoch_us(date_trunc('day', ts)) AS day_us,
             avg(value) AS v
           FROM events GROUP BY 1, 2
         ), market AS (SELECT day_us, avg(v) AS m FROM daily GROUP BY 1),
         j AS (SELECT user_id, v, m FROM daily JOIN market USING (day_us)),
         r AS (SELECT user_id,
             rank() OVER (PARTITION BY user_id ORDER BY v)
               + (count(*) OVER (PARTITION BY user_id, v) - 1) / 2.0 AS rx,
             rank() OVER (PARTITION BY user_id ORDER BY m)
               + (count(*) OVER (PARTITION BY user_id, m) - 1) / 2.0 AS ry
           FROM j)
         SELECT user_id, count(*) AS n_obs, round(corr(rx, ry), 6)
           AS spearman_rho
         FROM r GROUP BY user_id""",
    "ts46_asof" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
         daily AS (
           SELECT user_id, epoch_us(date_trunc('day', ts)) AS dts,
             avg(value) AS dval
           FROM events GROUP BY 1, 2)
         SELECT e.user_id, e.ts_us, e.value, round(d.dval, 6) AS asof_value
         FROM e ASOF LEFT JOIN daily d
           ON e.user_id = d.user_id AND e.ts_us >= d.dts""",
    "m26_mann_kendall" ->
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
         FROM v""",
    "ev08_stickiness" ->
      """WITH a AS (SELECT DISTINCT user_id,
             epoch_us(ts) // 86400000000 AS day
           FROM events),
         aw AS (SELECT user_id, day, day // 7 AS week FROM a),
         d AS (SELECT week, day, count(DISTINCT user_id) AS dau
           FROM aw GROUP BY 1, 2),
         dd AS (SELECT week, count(*) AS n_active_days, avg(dau) AS avg_dau
           FROM d GROUP BY week),
         w AS (SELECT week, count(DISTINCT user_id) AS wau FROM aw GROUP BY week)
         SELECT w.week AS week_no, w.wau, dd.n_active_days,
           round(dd.avg_dau, 6) AS avg_dau,
           round(dd.avg_dau / w.wau, 6) AS stickiness
         FROM w JOIN dd USING (week)""",
    "ev10_decay_score" ->
      """WITH m AS (SELECT max(epoch_us(ts)) AS mx FROM events)
         SELECT user_id, count(*) AS n_events,
           round(sum(value), 6) AS raw_sum,
           round(sum(value * pow(2.0,
             -((mx - epoch_us(ts))::DOUBLE) / 604800000000.0)), 6)
             AS decay_score
         FROM events, m WHERE value IS NOT NULL GROUP BY user_id""",
    "ev09_top_paths" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
           FROM events),
         flag AS (SELECT user_id, event_id, event_type, ts_us,
             CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
                  WHEN ts_us - lag(ts_us) OVER w > 14400000000 THEN 1 ELSE 0 END AS f
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
         sess AS (SELECT user_id, event_id, event_type, ts_us,
             sum(f) OVER (PARTITION BY user_id ORDER BY ts_us
                          ROWS UNBOUNDED PRECEDING) AS session_no
           FROM flag),
         step AS (SELECT user_id, session_no, event_type,
             row_number() OVER (PARTITION BY user_id, session_no
                                ORDER BY ts_us, event_id) AS stp
           FROM sess),
         p AS (SELECT user_id, session_no,
             string_agg(event_type, '>' ORDER BY stp) AS path
           FROM step WHERE stp <= 3 GROUP BY 1, 2)
         SELECT path, count(*) AS n_sessions FROM p GROUP BY path
         ORDER BY n_sessions DESC, path LIMIT 20""",
    "dd11_chunk_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
         ch AS (SELECT doc_id, i AS chunk_pos,
             array_to_string(list_slice(toks, i*20 + 1, i*20 + 20), ' ') AS chunk
           FROM t, UNNEST(range(0, CAST(ceil(len(toks) / 20.0) AS BIGINT)))
             AS u(i)),
         k AS (SELECT doc_id, chunk_pos, chunk,
             row_number() OVER (PARTITION BY chunk
                                ORDER BY doc_id, chunk_pos) AS rn
           FROM ch)
         SELECT doc_id, count(*) AS n_chunks,
           sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           md5(coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' '
             ORDER BY chunk_pos), '')) AS kept_md5
         FROM k GROUP BY doc_id""",
    "tx17_bigram_logprob" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
         bg AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bigram
           FROM t, UNNEST(range(1, len(toks))) AS u(i)),
         c AS (SELECT doc_id, bigram, count(*) AS cnt FROM bg GROUP BY 1, 2),
         v AS (SELECT bigram, sum(cnt) AS cb FROM c GROUP BY bigram),
         pv AS (SELECT string_split(bigram, ' ')[1] AS w1, sum(cb) AS cu
           FROM v GROUP BY 1)
         SELECT doc_id, sum(cnt)::BIGINT AS n_bigrams,
           round(-sum(cnt * ln(cb::DOUBLE / cu)) / sum(cnt), 6)
             AS avg_neg_logprob
         FROM c JOIN v USING (bigram)
           JOIN pv ON string_split(bigram, ' ')[1] = pv.w1
         GROUP BY doc_id""",
    "tx19_perplexity_gate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
         bg AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bigram
           FROM t, UNNEST(range(1, len(toks))) AS u(i)),
         c AS (SELECT doc_id, bigram, count(*) AS cnt FROM bg GROUP BY 1, 2),
         v AS (SELECT bigram, sum(cnt) AS cb FROM c GROUP BY bigram),
         pv AS (SELECT string_split(bigram, ' ')[1] AS w1, sum(cb) AS cu
           FROM v GROUP BY 1),
         d AS (SELECT doc_id, sum(cnt)::BIGINT AS n_bigrams,
             round(-sum(cnt * ln(cb::DOUBLE / cu)) / sum(cnt), 6)
               AS avg_neg_logprob
           FROM c JOIN v USING (bigram)
             JOIN pv ON string_split(bigram, ' ')[1] = pv.w1
           GROUP BY doc_id)
         SELECT doc_id, n_bigrams, avg_neg_logprob,
           round(exp(avg_neg_logprob), 6) AS perplexity,
           round(exp(avg_neg_logprob), 6) <= 30.0 AS keep
         FROM d""",
    "m27_ks_drift" ->
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
         FROM c GROUP BY user_id""",
    "ts47_hurst" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
                    WHERE value IS NOT NULL),
         r AS (SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts_us) - 1 AS rn
           FROM e),
         x AS (SELECT user_id, value, rn, m
           FROM r, UNNEST([1, 2, 4, 8, 16]) AS t(m)),
         b AS (SELECT user_id, m, rn // m AS blk, avg(value) AS bmean,
             count(*) AS bn
           FROM x GROUP BY 1, 2, 3),
         v AS (SELECT user_id, m, var_samp(bmean) AS v, count(*) AS nblk
           FROM b WHERE bn = m GROUP BY 1, 2),
         f AS (SELECT user_id, m, v FROM v
           WHERE v IS NOT NULL AND v > 0 AND nblk >= 2)
         SELECT user_id, count(*) AS n_scales,
           round(1.0 + regr_slope(ln(v), ln(m::DOUBLE)) / 2, 6) AS hurst
         FROM f GROUP BY user_id""",
    "m28_ou_fit" ->
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
         FROM f""",
    "dq01_benford" ->
      """WITH e AS (SELECT user_id, abs(value) AS av FROM events
                    WHERE value IS NOT NULL AND abs(value) > 0),
         d AS (SELECT user_id,
             least(9, greatest(1,
               CAST(floor(av / power(10, floor(log10(av)))) AS INT))) AS dg
           FROM e),
         c AS (SELECT user_id, dg, count(*) AS c FROM d GROUP BY 1, 2),
         n AS (SELECT user_id, sum(c) AS n FROM c GROUP BY 1),
         g AS (SELECT user_id, n, i AS dg
           FROM n, UNNEST(range(1, 10)) AS t(i)),
         j AS (SELECT g.user_id, g.n, g.dg,
             coalesce(c.c, 0)::DOUBLE / g.n AS p,
             ln(1.0 + 1.0 / g.dg) / ln(10.0) AS bf
           FROM g LEFT JOIN c ON g.user_id = c.user_id AND g.dg = c.dg)
         SELECT user_id, max(n)::BIGINT AS n_obs,
           round(sum(abs(p - bf)), 6) AS benford_tvd
         FROM j GROUP BY user_id""",
    "em05_dim_stats" ->
      """SELECT i AS pos, count(*)::BIGINT AS n,
           round(avg(embedding[i+1]::DOUBLE), 6) AS dim_mean,
           round(var_samp(embedding[i+1]::DOUBLE), 6) AS dim_var,
           min(embedding[i+1]::DOUBLE) AS dim_min,
           max(embedding[i+1]::DOUBLE) AS dim_max
         FROM embeddings, unnest(range(len(embedding))) AS t(i)
         GROUP BY 1"""
  ) ++ Map(
    // constant-SELECT oracles for the recovery certification queries: every
    // (key, check) pair is expected true (see models/Recovery.scala)
    "mr01_arima_recover" -> graft.models.Recovery.oracleFor("arima"),
    "mr19_r_goldens" -> graft.models.Recovery.oracleFor("rgolden"),
    "mr21_r_constants" -> graft.models.Recovery.rGoldenConstantsOracle,
    "mr20_egarch_recover" -> graft.models.Recovery.oracleFor("egarch"),
    "mr02_ar_recover" -> graft.models.Recovery.oracleFor("ar"),
    "mr03_ewma_recover" -> graft.models.Recovery.oracleFor("ewma"),
    "mr04_hw_recover" -> graft.models.Recovery.oracleFor("holtwinters"),
    "mr05_garch_recover" -> graft.models.Recovery.oracleFor("garch"),
    "mr06_forecast_recover" -> graft.models.Recovery.oracleFor("forecast"),
    "mr07_autofit_recover" -> graft.models.Recovery.oracleFor("autofit"),
    "mr08_cochrane_recover" -> graft.models.Recovery.oracleFor("cochrane_orcutt"),
    "mr09_arimax_recover" -> graft.models.Recovery.oracleFor("arimax"),
    "mr10_stationarity_decisions" -> graft.models.Recovery.oracleFor("stationarity"),
    "mr11_lm_test_decisions" -> graft.models.Recovery.oracleFor("lm_tests"),
    "mr12_spline_recover" -> graft.models.Recovery.oracleFor("spline"),
    "mr13_var_recover" -> graft.models.Recovery.oracleFor("var"),
    "mr14_varp_recover" -> graft.models.Recovery.oracleFor("varp"),
    "mr15_granger_recover" -> graft.models.Recovery.oracleFor("granger"),
    "mr16_order_recover" -> graft.models.Recovery.oracleFor("order"),
    "mr17_irf_recover" -> graft.models.Recovery.oracleFor("irf"),
    "mr18_logit_recover" -> graft.models.Recovery.oracleFor("logit"),
    "rc01_lsh_recall" -> graft.sim.Recall.oracleFor("lsh"),
    "rc02_ivf_recall" -> graft.sim.Recall.oracleFor("ivf"),
    "rc03_pq_recall" -> graft.sim.Recall.oracleFor("pq"),
    "rc04_minhash_recall" -> graft.sim.Recall.oracleFor("minhash"),
    "rc05_simhash_recall" -> graft.sim.Recall.oracleFor("simhash"),
    "rc06_embneardup_recall" -> graft.sim.Recall.oracleFor("embedding"),
    "smp03_mix_weights" ->
      """SELECT source, n_tokens, ts AS target_share,
           floor(ts * 30000)::BIGINT AS allocated_tokens,
           least(1.0, (ts * 30000) / n_tokens::DOUBLE) AS rate,
           floor(least(1.0, (ts * 30000) / n_tokens::DOUBLE) * n_tokens)::BIGINT
             AS expected_tokens
         FROM (
           SELECT source,
             sum(len(string_split(text, ' ')))::BIGINT AS n_tokens,
             (CASE source WHEN 'src0' THEN 0.3 WHEN 'src1' THEN 0.25
                WHEN 'src2' THEN 0.2 WHEN 'src3' THEN 0.15
                WHEN 'src4' THEN 0.1 ELSE 0.0 END)::DOUBLE AS ts
           FROM documents GROUP BY source)""",
    "tx20_chunking" ->
      // chunk indices enumerated per-row via unnest(range(...)) — bound
      // derived from each doc's own token count, no structural cap to
      // outgrow at a future SF
      """WITH ch AS (
           SELECT d.doc_id, string_split(d.text, ' ') AS toks,
             unnest(range(0,
               greatest(len(string_split(d.text, ' ')) - 1, 0) // 24 + 1))
               AS ci
           FROM documents d
         )
         SELECT doc_id, ci::INT AS chunk_idx, (ci * 24)::INT AS start_tok,
           least(len(toks) - ci * 24, 32)::INT AS n_chunk_tokens,
           array_to_string(list_slice(toks, ci * 24 + 1, ci * 24 + 32), ' ')
             AS chunk_text
         FROM ch""",
    "tx21_packing_plan" ->
      """SELECT source, doc_id,
           len(string_split(text, ' '))::BIGINT AS n_tokens,
           coalesce(sum(len(string_split(text, ' ')))
             OVER (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
             AS start_offset,
           (start_offset // 32)::BIGINT AS bin_id,
           (start_offset % 32)::BIGINT AS offset_in_bin,
           offset_in_bin + n_tokens > 32 AS straddles
         FROM documents""",
    "tx22_winnowing" ->
      // position enumeration is per-row unnest(range(...)) (no structural
      // cap), window minima are a sliding window frame (O(n), not O(n·w)),
      // and the single-byte gate (strlen = length) keeps DuckDB's
      // codepoint-valued ord() aligned with Spark's UTF-8 byte hashing —
      // the two only coincide on single-byte text
      """WITH pos AS (
           SELECT d.doc_id, d.text,
             unnest(range(0, greatest(length(d.text) - 4, 0))) AS i
           FROM documents d
           WHERE d.text IS NOT NULL AND strlen(d.text) = length(d.text)
         ), hs AS (
           SELECT doc_id, i,
             (ord(text[i+1:i+1]) * 4362470401
              + ord(text[i+2:i+2]) * 16974593
              + ord(text[i+3:i+3]) * 66049
              + ord(text[i+4:i+4]) * 257
              + ord(text[i+5:i+5])) % 1000000007 AS h
           FROM pos
         ), wins AS (
           SELECT doc_id,
             min(h) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fingerprint,
             count(*) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS cnt
           FROM hs
         )
         SELECT DISTINCT doc_id, fingerprint FROM wins WHERE cnt = 4""",
    "dd12_winnow_duplication" ->
      // same cap-free, byte-gated winnowing formulation as tx22 (see the
      // comment there), followed by the fingerprint doc-frequency rollup
      """WITH pos AS (
           SELECT d.doc_id, d.text,
             unnest(range(0, greatest(length(d.text) - 4, 0))) AS i
           FROM documents d
           WHERE d.text IS NOT NULL AND strlen(d.text) = length(d.text)
         ), hs AS (
           SELECT doc_id, i,
             (ord(text[i+1:i+1]) * 4362470401
              + ord(text[i+2:i+2]) * 16974593
              + ord(text[i+3:i+3]) * 66049
              + ord(text[i+4:i+4]) * 257
              + ord(text[i+5:i+5])) % 1000000007 AS h
           FROM pos
         ), wins AS (
           SELECT doc_id,
             min(h) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fingerprint,
             count(*) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS cnt
           FROM hs
         ), fps AS (
           SELECT DISTINCT doc_id, fingerprint FROM wins WHERE cnt = 4
         ), dfreq AS (
           SELECT fingerprint, count(*) AS df FROM fps GROUP BY fingerprint
         )
         SELECT f.doc_id,
           count(*)::BIGINT AS n_fingerprints,
           sum(CASE WHEN q.df > 1 THEN 1 ELSE 0 END)::BIGINT
             AS n_dup_fingerprints,
           sum(CASE WHEN q.df > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*)
             AS dup_fp_ratio
         FROM fps f JOIN dfreq q USING (fingerprint)
         GROUP BY f.doc_id""",
    "qa01_psi_drift" ->
      """WITH a AS (
           SELECT source,
             sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_ref,
             sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_cur
           FROM documents GROUP BY source)
         SELECT source, n_ref, n_cur,
           round(n_ref::DOUBLE / sum(n_ref) OVER (), 6) AS p,
           round(n_cur::DOUBLE / sum(n_cur) OVER (), 6) AS q,
           round(CASE WHEN n_ref > 0 AND n_cur > 0 THEN
             (n_cur::DOUBLE / sum(n_cur) OVER ()
              - n_ref::DOUBLE / sum(n_ref) OVER ())
             * ln((n_cur::DOUBLE / sum(n_cur) OVER ())
                  / (n_ref::DOUBLE / sum(n_ref) OVER ()))
           END, 6) AS psi_contrib
         FROM a""",
    "smp04_bottomk_sample" ->
      // text IS NOT NULL mirrors bottomKSample's explicit null filter —
      // without it Spark (NULLS FIRST) and DuckDB (NULLS LAST) would rank
      // a null-text row at opposite ends of the sample
      """SELECT doc_id, source, md5(text) AS sample_key
         FROM documents WHERE text IS NOT NULL
         ORDER BY md5(text), doc_id LIMIT 50""",
    "smp06_stratum_cap" ->
      """SELECT source, doc_id, sample_key FROM (
           SELECT source, doc_id, md5(text) AS sample_key,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(text), doc_id) AS rk
           FROM documents WHERE text IS NOT NULL)
         WHERE rk <= 20""",
    "em06_pca_certified" -> graft.sim.Embeddings.pcaOracle,
    "rc07_semdedup_recall" -> graft.sim.Recall.oracleFor("semdedup"),
    "rc08_semdecon_recall" -> graft.sim.Recall.oracleFor("semdecon"),
    "tx23_log_odds" ->
      """WITH tok AS (
           SELECT source, unnest(string_split(text, ' ')) AS token
           FROM documents),
         c AS (
           SELECT source, token, count(*) AS y_wi
           FROM tok WHERE token <> '' GROUP BY 1, 2),
         tt AS (SELECT token, sum(y_wi) AS y_w FROM c GROUP BY 1),
         st AS (SELECT source, sum(y_wi) AS n_i FROM c GROUP BY 1),
         n AS (SELECT sum(n_i) AS n_total FROM st),
         sc AS (
           SELECT c.source, c.token, c.y_wi, tt.y_w, st.n_i, n.n_total,
             500.0 * tt.y_w / n.n_total AS aw
           FROM c JOIN tt USING (token) JOIN st USING (source) CROSS JOIN n),
         z AS (
           SELECT source, token, y_wi,
             (ln((y_wi + aw) / (n_i + 500.0 - y_wi - aw))
              - ln(((y_w - y_wi) + aw)
                   / ((n_total - n_i) + 500.0 - (y_w - y_wi) - aw)))
             / sqrt(1.0 / (y_wi + aw) + 1.0 / ((y_w - y_wi) + aw)) AS z
           FROM sc),
         r AS (
           SELECT source, token, y_wi, z,
             row_number() OVER (PARTITION BY source
               ORDER BY z DESC, token ASC) AS rank
           FROM z)
         SELECT source, rank::BIGINT AS rank, token, y_wi AS n_token,
           round(z, 6) AS log_odds_z
         FROM r WHERE rank <= 5""",
    "smp05_temperature_mix" ->
      """WITH a AS (
           SELECT source, count(*) AS n_docs,
             sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
           FROM documents GROUP BY source),
         b AS (SELECT *, n_tokens::DOUBLE / sum(n_tokens) OVER () AS p FROM a),
         c AS (SELECT *, power(p, 0.7) / sum(power(p, 0.7)) OVER () AS q FROM b)
         SELECT source, n_docs, n_tokens, round(p, 6) AS p_natural,
           round(q, 6) AS p_temperature, round(q / p, 6) AS sampling_factor
         FROM c""",
    "tx24_code_detect" ->
      """WITH s AS (
           SELECT doc_id, length(text)::BIGINT AS n_chars,
             (length(text) - length(replace(text, '{', ''))
              + length(text) - length(replace(text, '}', ''))
              + length(text) - length(replace(text, '(', ''))
              + length(text) - length(replace(text, ')', ''))
              + length(text) - length(replace(text, ';', ''))
              + length(text) - length(replace(text, '=', ''))
              + length(text) - length(replace(text, '<', ''))
              + length(text) - length(replace(text, '>', ''))
              + length(text) - length(replace(text, '[', ''))
              + length(text) - length(replace(text, ']', ''))
              + length(text) - length(replace(text, '#', '')))::BIGINT
               AS n_code_symbols,
             ((CASE WHEN position('def ' IN text) > 0 THEN 1 ELSE 0 END)
              + (CASE WHEN position('void ' IN text) > 0 THEN 1 ELSE 0 END)
              + (CASE WHEN position('return ' IN text) > 0 THEN 1 ELSE 0 END)
              + (CASE WHEN position('import ' IN text) > 0 THEN 1 ELSE 0 END)
              + (CASE WHEN position('function ' IN text) > 0 THEN 1 ELSE 0 END)
              + (CASE WHEN position('class ' IN text) > 0 THEN 1 ELSE 0 END)
              + (CASE WHEN position('#include' IN text) > 0 THEN 1 ELSE 0 END)
              + (CASE WHEN position('const ' IN text) > 0 THEN 1 ELSE 0 END)
             )::BIGINT AS keyword_hits
           FROM documents)
         SELECT doc_id, n_chars, n_code_symbols, keyword_hits,
           round(n_code_symbols::DOUBLE / n_chars, 6) AS code_symbol_ratio,
           (round(n_code_symbols::DOUBLE / n_chars, 6) > 0.05
            OR keyword_hits >= 2) AS is_code
         FROM s""",
    "tx25_fertility" ->
      s"""$langIdCte
         SELECT p.lang_pred, count(*) AS n_docs,
           sum(len(string_split(d.text, ' ')))::BIGINT AS n_words,
           sum(len(regexp_extract_all(d.text,
             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')))::BIGINT AS n_subtokens,
           round(sum(len(regexp_extract_all(d.text,
             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')))::DOUBLE
             / sum(len(string_split(d.text, ' '))), 6) AS fertility
         FROM p JOIN documents d USING (doc_id)
         GROUP BY p.lang_pred""",
    "tx26_ngram_repetition" -> ngramRepOracle,
    "tx27_gopher_repetition_filter" -> {
      val caps = Seq(
        "top_2gram_char_frac" -> 0.20, "top_3gram_char_frac" -> 0.18,
        "top_4gram_char_frac" -> 0.16, "dup_5gram_char_frac" -> 0.15,
        "dup_6gram_char_frac" -> 0.14, "dup_7gram_char_frac" -> 0.13,
        "dup_8gram_char_frac" -> 0.12, "dup_9gram_char_frac" -> 0.11,
        "dup_10gram_char_frac" -> 0.10)
      val flags = caps.map { case (c, cap) =>
        s"CASE WHEN $c <= $cap THEN 1 ELSE 0 END AS f_$c" }
      val keep = caps.map { case (c, cap) =>
        s"(CASE WHEN $c <= $cap THEN 1 ELSE 0 END)" }.mkString(" * ")
      s"""SELECT q.*, ${flags.mkString(",\n         ")},
         $keep AS keep
         FROM ($ngramRepOracle) q"""
    },
    "qa02_snapshot_diff" ->
      """WITH oldv AS (
           SELECT doc_id, source,
             md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]',' ','g'),' +',' ','g'))) AS fp
           FROM documents WHERE doc_id % 3 <> 0),
         newv AS (
           SELECT doc_id, source,
             md5(trim(regexp_replace(regexp_replace(lower(
               CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END),
               '[^a-z0-9 ]',' ','g'),' +',' ','g'))) AS fp
           FROM documents WHERE doc_id % 3 <> 1),
         j AS (
           SELECT coalesce(n.source, o.source) AS source,
             CASE WHEN o.fp IS NULL THEN 'added'
                  WHEN n.fp IS NULL THEN 'removed'
                  WHEN o.fp = n.fp THEN 'unchanged'
                  ELSE 'edited' END AS status
           FROM oldv o FULL OUTER JOIN newv n USING (doc_id))
         SELECT source, status, count(*) AS n_docs
         FROM j GROUP BY 1, 2""",
    "fh01_feature_hash" ->
      // per-token HUGEINT rolling-hash fold (the tx05 oracle design) mod a
      // power-of-two bucket count, so unsigned-mod here equals Spark's
      // signed pmod exactly
      """WITH tok AS (
           SELECT doc_id, t AS tok
           FROM documents, unnest(string_split(text, ' ')) AS u(t)
           WHERE t <> ''),
         h AS (
           SELECT doc_id,
             (list_reduce(
                list_prepend(0::HUGEINT,
                  list_transform(string_split(tok, ''), c -> ascii(c)::HUGEINT)),
                (h, b) -> (h * 1000000007 + b)
                  % 18446744073709551616::HUGEINT) % 64)::BIGINT AS bucket
           FROM tok),
         c AS (
           SELECT doc_id, bucket, count(*)::DOUBLE AS cnt
           FROM h GROUP BY 1, 2),
         n AS (SELECT doc_id, sqrt(sum(cnt * cnt)) AS nrm FROM c GROUP BY 1),
         grid AS (
           SELECT d.doc_id, g.b AS bucket
           FROM (SELECT DISTINCT doc_id FROM documents) d,
                unnest(range(0, 64)) AS g(b))
         SELECT grid.doc_id, grid.bucket::BIGINT AS bucket,
           round(coalesce(c.cnt, 0) / n.nrm, 6) AS weight
         FROM grid JOIN n USING (doc_id)
           LEFT JOIN c USING (doc_id, bucket)""",
    "m31_var_fit" ->
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
         FROM g""",
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
    "m32_varp_fit" ->
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
           round(coef, 5) + 0.0 AS coef FROM u"""),
    "m34_granger_varp" -> grangerOracle,
    "m42_adf_full" -> adfFullOracle,
    "m35_varp_order" -> varpOrderOracle,
    "m36_varp_irf" -> varpIrfOracle,
    "m37_varp_fevd" -> varpFevdOracle,
    "m38_varp_intervals" -> varpIntervalsOracle,
    // m33: unroll the 5-step iterated forecast from the same t0
    // coefficients — each step is scalar algebra on the previous two
    // (forecast) states; ts extrapolates the upper-median observed step
    // exactly as varpForecast's medianStep does
    "m33_varp_forecast" ->
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
           round(value, 5) + 0.0 AS value FROM uf"""),
    "ts48_periodogram" ->
      """WITH daily AS (
           SELECT user_id, epoch_us(date_trunc('day', ts)) AS day_us,
             avg(value) AS v
           FROM events GROUP BY 1, 2),
         s AS (
           SELECT user_id, v,
             (row_number() OVER (PARTITION BY user_id ORDER BY day_us) - 1)
               ::DOUBLE AS t,
             count(*) OVER (PARTITION BY user_id) AS n_big,
             avg(v) OVER (PARTITION BY user_id) AS m
           FROM daily),
         e AS (
           SELECT user_id, v - m AS xc, t, n_big, n_big::DOUBLE AS n,
             unnest(range(1, least(8, n_big // 2) + 1)) AS k
           FROM s WHERE n_big >= 2),
         g AS (
           SELECT user_id, k, max(n_big) AS n_obs,
             sum(xc * cos(2 * pi() * k * t / n)) AS c,
             sum(xc * sin(2 * pi() * k * t / n)) AS sn
           FROM e GROUP BY 1, 2)
         SELECT user_id, k::BIGINT AS k, n_obs,
           round((c * c + sn * sn) / n_obs, 6) AS power,
           round(n_obs::DOUBLE / k, 6) AS period
         FROM g""",
    "m30_baseline_accuracy" ->
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
         FROM n GROUP BY user_id""",
    "qs01_hll_certified" -> graft.sketch.Sketches.oracleFor("hll"),
    "qs02_quantile_certified" -> graft.sketch.Sketches.oracleFor("quantiles"),
    "qs03_cms_certified" -> graft.sketch.Sketches.oracleFor("cms"),
    "qs04_bloom_certified" -> graft.sketch.Sketches.oracleFor("bloom")
  ) ++ Map(
    // -------- r16 converter-certification oracles: all TRUE DuckDB
    // replays (no frozen constants) — the round trips land back on
    // SQL-expressible frames
    "ts50_series_roundtrip" ->
      s"""WITH $dailyCte
         SELECT key, day_us, round(value, 6) AS value FROM daily""",
    "ts56_find_series" ->
      s"""WITH $dailyCte
         SELECT key, day_us, round(value, 6) AS value, src
         FROM daily CROSS JOIN (VALUES ('find'), ('collect')) AS t(src)
         WHERE key IN ('0', '1', '2')""",
    "ts57_map_series" ->
      s"""WITH $dailyCte
         SELECT key, day_us,
           round((value - min(value) OVER (PARTITION BY key))
             * (key::BIGINT % 3 + 1), 6) AS value
         FROM daily""",
    "ts59_lag_spec" ->
      s"""WITH $dailyCte,
         w AS (
           SELECT key, day_us, value,
             lag(value, 1) OVER win AS l1, lag(value, 2) OVER win AS l2,
             row_number() OVER win AS rn
           FROM daily WINDOW win AS (PARTITION BY key ORDER BY day_us))
         SELECT key, day_us,
           round(CASE WHEN key = '2' THEN NULL ELSE value END, 6) AS value,
           round(CASE WHEN key IN ('1', '2', '3') THEN l1 END, 6) AS lag_1,
           round(CASE WHEN key = '1' THEN l2 END, 6) AS lag_2
         FROM w
         WHERE rn > (CASE WHEN key = '1' THEN 2
                          WHEN key IN ('2', '3') THEN 1 ELSE 0 END)""",
    "ts60_upsample" ->
      s"""WITH $dailyCte,
         b AS (SELECT epoch_us(date_trunc('day', min(ts))) AS lo,
                      epoch_us(date_trunc('day', max(ts))) AS hi FROM events),
         grid AS (SELECT unnest(range(lo, hi + 1, 43200000000)) AS day_us FROM b),
         keys AS (SELECT DISTINCT user_id::VARCHAR AS key FROM events)
         SELECT k.key, g.day_us, round(d.value, 6) AS value
         FROM keys k CROSS JOIN grid g
         LEFT JOIN daily d ON d.key = k.key AND d.day_us = g.day_us""",
    "ts61_fill_zero_value" ->
      s"""WITH $dailyCte,
         b AS (SELECT epoch_us(date_trunc('day', min(ts))) AS lo,
                      epoch_us(date_trunc('day', max(ts))) AS hi FROM events),
         grid AS (SELECT unnest(range(lo, hi + 1, 86400000000)) AS day_us FROM b),
         keys AS (SELECT DISTINCT user_id::VARCHAR AS key FROM events)
         SELECT k.key, g.day_us,
           round(coalesce(d.value, 0.0), 6) AS v_zero,
           round(coalesce(d.value, -1.0), 6) AS v_const
         FROM keys k CROSS JOIN grid g
         LEFT JOIN daily d ON d.key = k.key AND d.day_us = g.day_us""",
    "m55_ar_filter" ->
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
         FROM p JOIN f USING (user_id)""",
    // m03 (r16): the AR(2) OLS replayed by the centered 2x2 normal
    // equations — covariance ratios are denominator-free, so var_samp/
    // covar_samp give the exact least-squares solution
    "m03_ar_fit" ->
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
         FROM g""",
    "m11_cochrane_orcutt" -> cochraneOrcuttOracle,
    "ts62_series_union" ->
      """WITH a AS (
           SELECT user_id::VARCHAR AS key,
             epoch_us(date_trunc('day', ts)) AS day_us, avg(value) AS v
           FROM events WHERE value >= 30 GROUP BY 1, 2),
         b AS (
           SELECT user_id::VARCHAR AS key,
             epoch_us(date_trunc('day', ts)) AS day_us,
             count(*)::DOUBLE AS v
           FROM events GROUP BY 1, 2)
         SELECT b.key, b.day_us, round(coalesce(a.v, b.v), 6) AS value
         FROM b LEFT JOIN a ON a.key = b.key AND a.day_us = b.day_us""",
    // st01/st02: the oracle IS the batch semantics — a full availableNow
    // replay of the stream must converge to it exactly
    "st01_streaming_resample_replay" ->
      """SELECT user_id, epoch_us(date_trunc('day', ts)) AS day_us,
         round(sum(value), 4) AS sum_value
         FROM events GROUP BY 1, 2""",
    "st02_streaming_dedup_replay" ->
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text),'[^a-z0-9 ]',' ','g'),' +',' ','g'))) AS fingerprint,
         CAST(1 AS BIGINT) AS n_survivors
         FROM documents GROUP BY 1""",
    "st03_streaming_hh_replay" ->
      """WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS token
                    FROM documents)
         SELECT token, count(*)::BIGINT AS n, 0::BIGINT AS max_err
         FROM t WHERE token <> '' GROUP BY token""",
    // st04: the oracle recomputes the watermark kept-set — every on-time
    // row, plus held-back (user_id%5==2) rows only when their day bucket is
    // within 2 days of the stream's max bucket (the recovered watermark)
    "st04_streaming_late_drop" ->
      """WITH ev AS (
           SELECT user_id,
                  epoch_us(ts) - (epoch_us(ts) % 86400000000) AS bucket
           FROM events),
         wm AS (SELECT max(bucket) - 2*86400000000 AS thresh FROM ev),
         kept AS (
           SELECT e.user_id, e.bucket FROM ev e, wm w
           WHERE e.user_id % 5 <> 2 OR e.bucket >= w.thresh)
         SELECT user_id, bucket AS day_us, count(*) AS n_events
         FROM kept GROUP BY 1, 2""",
    // st06: the lateness-API twin — 2-day buckets, raw lateness 1 day, so
    // the compensated watermark threshold is (on-time max bucket) - 3 days;
    // held-back (user_id%5==3) rows are kept only at or above it
    "st06_streaming_lateness_replay" ->
      """WITH ev AS (
           SELECT user_id,
                  epoch_us(ts) - (epoch_us(ts) % 172800000000) AS bucket
           FROM events),
         wm AS (SELECT max(bucket) - 3*86400000000 AS thresh FROM ev
                WHERE user_id % 5 <> 3),
         kept AS (
           SELECT e.user_id, e.bucket FROM ev e, wm w
           WHERE e.user_id % 5 <> 3 OR e.bucket >= w.thresh)
         SELECT user_id, bucket AS bucket_us, count(*) AS n_events
         FROM kept GROUP BY 1, 2""",
    "ts51_io_parquet_roundtrip" ->
      s"""WITH $dailyCte
         SELECT key, day_us, round(value, 6) AS value, TRUE AS index_match
         FROM daily""",
    "ts52_io_csv_roundtrip" ->
      s"""WITH $dailyCte
         SELECT key, day_us, round(value, 6) AS value, TRUE AS index_match
         FROM daily""",
    "ts53_yahoo_parse" ->
      s"""WITH r AS (
           SELECT * FROM read_csv('$googCsvPath',
             header = true)),
         u AS (
           SELECT Date,
             unnest(['Open', 'High', 'Low', 'Close', 'Volume', 'AdjClose']) AS f,
             unnest([Open::DOUBLE, High::DOUBLE, Low::DOUBLE, Close::DOUBLE,
                     Volume::DOUBLE, "Adj Close"::DOUBLE]) AS v
           FROM r)
         SELECT 'GOOG_' || f AS key, epoch(Date)::BIGINT * 1000000 AS ts_us,
           round(v, 6) AS value
         FROM u WHERE v IS NOT NULL""",
    "ts54_indexed_row_matrix" ->
      s"""WITH $dailyCte,
         d300 AS (SELECT * FROM daily WHERE key::BIGINT < 300),
         b AS (SELECT epoch_us(date_trunc('day', min(ts))) AS lo,
                      epoch_us(date_trunc('day', max(ts))) AS hi FROM events),
         dims AS (
           SELECT (hi - lo) // 86400000000 + 1 AS n_rows_total,
             (SELECT count(DISTINCT user_id) FROM events
              WHERE user_id < 300) AS n_cols
           FROM b)
         SELECT (d.day_us - b.lo) // 86400000000 AS loc, count(*) AS n_present,
           round(min(d.value), 6) AS row_min, round(max(d.value), 6) AS row_max,
           dims.n_rows_total, dims.n_cols
         FROM d300 d, b, dims
         GROUP BY 1, dims.n_rows_total, dims.n_cols""",
    "ts55_row_matrix" ->
      s"""WITH $dailyCte,
         b AS (SELECT epoch_us(date_trunc('day', min(ts))) AS lo,
                      epoch_us(date_trunc('day', max(ts))) AS hi FROM events),
         grid AS (SELECT unnest(range(lo, hi + 1, 86400000000)) AS day_us FROM b),
         keys AS (SELECT DISTINCT user_id::VARCHAR AS key FROM events
                  WHERE user_id < 300)
         SELECT count(CASE WHEN coalesce(d.value, 0.0) <> 0 THEN 1 END) AS n_nonzero,
           round(min(coalesce(d.value, 0.0)), 6) AS row_min,
           round(max(coalesce(d.value, 0.0)), 6) AS row_max
         FROM keys k CROSS JOIN grid g
         LEFT JOIN daily d ON d.key = k.key AND d.day_us = g.day_us
         GROUP BY g.day_us""",
    "ts58_index_union" ->
      """WITH t AS (
           SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
             TIMESTAMP '2024-02-10', INTERVAL 1 DAY)) AS ts
           UNION ALL SELECT TIMESTAMP '2024-01-15 12:00:00'
           UNION ALL SELECT TIMESTAMP '2024-02-20 00:00:00'
           UNION ALL SELECT TIMESTAMP '2024-03-01 00:00:00'),
         s AS (SELECT DISTINCT epoch_us(ts) AS ts_us FROM t)
         SELECT row_number() OVER (ORDER BY ts_us) - 1 AS loc, ts_us,
           4::BIGINT AS n_segments
         FROM s""",
    // m54: 3-regressor OLS (y_{t-1}, x_t, x_{t-1}) replayed by Cramer's
    // rule on the centered 3x3 normal equations
    "m54_arx_fit" ->
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
         FROM g"""
  )

  /** Shared daily-panel CTE of the r16 converter oracles. */
  private val dailyCte: String =
    """daily AS (
         SELECT user_id::VARCHAR AS key,
           epoch_us(date_trunc('day', ts)) AS day_us, avg(value) AS value
         FROM events GROUP BY 1, 2)"""

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
}
