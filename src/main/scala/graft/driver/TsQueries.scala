package graft
package driver

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.Replay
import graft.ts.{RollAlign, TimeSeriesOps => TS}

import Shared.{obs, dayUsTick, dayIndex, dailyWithMarket}

/** Time-series driver queries: resampling, alignment, fills, rolling
  * windows, decompositions, spectral and rank statistics, and the series,
  * index and IO converters ([[graft.ts]], [[graft.core]], [[graft.io]]),
  * plus bd01 business days, sp01 spline fill and dq01 Benford digits. */
object TsQueries {

  /** Per-user daily mean in `(key STRING, day_us, value)` layout — the
    * shared input of the converter round-trip queries (ts50+). */
  private def dailyKeyed(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id").cast("string").as("key"),
        unix_micros(date_trunc("DAY", timestamp_micros(col("ts_us")))).as("day_us"))
      .agg(avg("value").as("value"))

  /** Daily-panel CTE of the converter oracles (ts50+). */
  private val dailyCte: String =
    """daily AS (
         SELECT user_id::VARCHAR AS key,
           epoch_us(date_trunc('day', ts)) AS day_us, avg(value) AS value
         FROM events GROUP BY 1, 2)"""

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

  val queries: Seq[Query] = Seq(
    Query("bd01_business_days", (s, dir) => {
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
    }).oracle(
      """SELECT epoch_us(date_trunc('day', ts)) AS day_us, count(*) AS n_events,
         round(sum(value), 4) AS total
         FROM events WHERE dayofweek(ts) BETWEEN 1 AND 5
         GROUP BY 1"""),
    Query("dq01_benford", (s, dir) =>
      // Benford first-digit total-variation deviation per user
      TS.benfordDeviation(obs(s, dir), key = "user_id", value = "value")
        .select(col("user_id"), col("n_obs"),
          round(col("benford_tvd"), 6).as("benford_tvd"))).oracle(
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
         FROM j GROUP BY user_id"""),
    Query("sp01_spline_series", (s, dir) => {
      // series-layout pipeline: daily obs -> conform to index (NaN gaps) ->
      // spline fill kernel -> melt back to observations
      val daily = Tables.events(s, dir)
        .groupBy(col("user_id").cast("string").as("key"),
          unix_micros(date_trunc("DAY", timestamp_micros(col("ts_us")))).as("day_us"))
        .agg(avg("value").as("value"))
      val index = dayIndex(s, dir)
      val series = TS.toSeries(daily, index, key = "key", ts = "day_us", value = "value")
      val filled = TS.fillSpline(series)
      TS.fromSeries(filled, index, key = "key")
        .select(col("key"), col("ts_nanos").as("day_us"),
          round(col("value"), 6).as("value"))
    }).oracle(
      // sp01 — natural cubic spline as SQL: the tridiagonal (Thomas) solve is
      // two sequential recurrences, emitted as recursive CTEs (fwd: mu/z
      // sweep over interior knots; bwd: back-substitution for the second
      // derivatives), then Horner evaluation per gap. Expression shapes
      // mirror the engine kernel's arithmetic ORDER exactly (alpha form,
      // (y1-y0)/h - h*(c1+2c)/3, ((d*dx + c)*dx + b)*dx + y) so doubles are
      // bit-identical, not merely close — validated 4466/4466 exact at
      // sf0.01. Keys with < 3 knots pass their observations through
      // untouched, matching the kernel's early return.
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
         SELECT key, epoch_us(day) AS day_us, round(v, 6) AS value FROM interp"""),
    Query("ts01_lag", (s, dir) => {
      TS.lags(obs(s, dir), 2, trim = true, key = "user_id", ts = "ts_us", value = "value")
        .select("user_id", "ts_us", "value", "lag_1", "lag_2")
    }).oracle(
      """SELECT user_id, ts_us, value, lag_1, lag_2 FROM (
         SELECT user_id, epoch_us(ts) AS ts_us, value,
           lag(value,1) OVER w AS lag_1, lag(value,2) OVER w AS lag_2,
           row_number() OVER w AS rn
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
         ) t WHERE rn > 2"""),
    Query("ts02_diff", (s, dir) => {
      TS.differences(obs(s, dir), 1, key = "user_id", ts = "ts_us", value = "value")
        .select("user_id", "ts_us", "value")
    }).oracle(
      """SELECT user_id, ts_us, value FROM (
         SELECT user_id, epoch_us(ts) AS ts_us,
           value - lag(value,1) OVER w AS value, row_number() OVER w AS rn
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
         ) t WHERE rn > 1"""),
    Query("ts03_rollmean", (s, dir) => {
      TS.rollMean(obs(s, dir), 7, RollAlign.Right, key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), col("ts_us"), round(col("value"), 6).as("roll_mean"))
    }).oracle(
      """SELECT user_id, ts_us, round(m,6) AS roll_mean FROM (
         SELECT user_id, epoch_us(ts) AS ts_us,
           avg(value) OVER w AS m, count(value) OVER w AS c
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         ) t WHERE c = 7"""),
    Query("ts04_resample_day", (s, dir) => {
      val ev = Tables.events(s, dir)
      ev.withColumn("day_us", unix_micros(date_trunc("DAY", timestamp_micros(col("ts_us")))))
        .groupBy("user_id", "day_us")
        .agg(count(lit(1)).as("n"), round(avg("value"), 6).as("avg_value"),
          round(sum("value"), 4).as("sum_value"))
    }).oracle(
      """SELECT user_id, epoch_us(date_trunc('day', ts)) AS day_us,
         count(*) AS n, round(avg(value),6) AS avg_value, round(sum(value),4) AS sum_value
         FROM events GROUP BY user_id, date_trunc('day', ts)"""),
    Query("ts05_fill_locf", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("v", when(col("event_type") === "error", lit(null)).otherwise(col("value")))
        .select(col("event_id"), col("user_id"), col("ts_us"), col("v").as("value"))
      TS.fill(ev, "previous", key = "user_id", ts = "ts_us", value = "value")
        .select(col("event_id"), col("user_id"), col("ts_us"), col("value").as("filled"))
    }).oracle(
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         last_value(CASE WHEN event_type='error' THEN NULL ELSE value END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
         FROM events"""),
    Query("ts06_stats", (s, dir) => {
      TS.seriesStats(obs(s, dir), key = "user_id", value = "value")
        .select(col("user_id"), col("n"), round(col("mean"), 6).as("mean"),
          round(col("stdev"), 6).as("stdev"), col("min"), col("max"))
    }).oracle(
      """SELECT user_id, count(value) AS n, round(avg(value),6) AS mean,
         round(stddev_samp(value),6) AS stdev, min(value) AS min, max(value) AS max
         FROM events GROUP BY user_id"""),
    Query("ts07_returnrates", (s, dir) => {
      // no rounding: IEEE division is bit-identical in Spark and DuckDB,
      // while round() ties on dyadic quotients differ (HALF_UP vs half-even)
      TS.returnRates(obs(s, dir), key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), col("ts_us"), col("value").as("ret"))
    }).oracle(
      """SELECT user_id, ts_us, r AS ret FROM (
         SELECT user_id, epoch_us(ts) AS ts_us,
           value / lag(value,1) OVER w - 1.0 AS r, row_number() OVER w AS rn
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
         ) t WHERE rn > 1"""),
    Query("ts08_asof", (s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"), col("value"))
      TS.asofJoin(clicks, purchases, valueOut = "last_purchase",
        key = "user_id", ts = "ts_us", rightValue = "value")
        .select("event_id", "user_id", "ts_us", "last_purchase")
    }).oracle(
      """SELECT event_id, user_id, ts_us, last_purchase FROM (
         SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
           last_value(CASE WHEN event_type='purchase' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase
         FROM events WHERE event_type IN ('click','purchase')
         ) t WHERE event_type='click'"""),
    Query("ts09_downsample", (s, dir) => {
      TS.downsample(obs(s, dir), 10, 0, key = "user_id", ts = "ts_us", value = "value")
        .select("user_id", "ts_us", "value")
    }).oracle(
      """SELECT user_id, ts_us, value FROM (
         SELECT user_id, epoch_us(ts) AS ts_us, value, row_number() OVER w AS rn
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
         ) t WHERE (rn - 1) % 10 = 0"""),
    Query("ts10_quotients", (s, dir) => {
      TS.quotients(obs(s, dir), 1, key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), col("ts_us"), col("value").as("quot"))
    }).oracle(
      """SELECT user_id, ts_us, q AS quot FROM (
         SELECT user_id, epoch_us(ts) AS ts_us,
           value / lag(value,1) OVER w AS q, row_number() OVER w AS rn
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
         ) t WHERE rn > 1"""),
    Query("ts11_fill_linear", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("v", when(col("event_type") === "error", lit(null)).otherwise(col("value")))
        .select(col("event_id"), col("user_id"), col("ts_us"), col("v").as("value"))
      TS.fill(ev, "linear", key = "user_id", ts = "ts_us", value = "value")
        .select(col("event_id"), col("user_id"), col("ts_us"), col("value").as("filled"))
    }).oracle(
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
         ) t"""),
    Query("ts12_fill_nearest", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("v", when(col("event_type") === "error", lit(null)).otherwise(col("value")))
        .select(col("event_id"), col("user_id"), col("ts_us"), col("v").as("value"))
      TS.fill(ev, "nearest", key = "user_id", ts = "ts_us", value = "value")
        .select(col("event_id"), col("user_id"), col("ts_us"), col("value").as("filled"))
    }).oracle(
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
         ) t"""),
    Query("ts13_rollsum_center", (s, dir) => {
      TS.rollSum(obs(s, dir), 5, RollAlign.Center, key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), col("ts_us"), round(col("value"), 4).as("roll_sum"))
    }).oracle(
      """SELECT user_id, ts_us, round(sm, 4) AS roll_sum FROM (
         SELECT user_id, epoch_us(ts) AS ts_us,
           sum(value) OVER w AS sm, count(value) OVER w AS c
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
           ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
         ) t WHERE c = 5"""),
    Query("ts14_slice", (s, dir) => {
      // 2024-01-10T00:00Z .. 2024-01-20T00:00Z in micros. The range predicate
      // goes on the RAW ts column (Tables.eventsSliceUs) so it lands in the
      // parquet scan's PushedFilters and prunes row groups; slicing the
      // derived ts_us would evaluate after a full scan.
      Tables.eventsSliceUs(s, dir, 1704844800000000L, 1705708800000000L)
        .select("event_id", "user_id", "ts_us", "value")
    }).oracle(
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events
         WHERE epoch_us(ts) >= 1704844800000000 AND epoch_us(ts) <= 1705708800000000"""),
    Query("ts15_instants", (s, dir) => {
      val ev = Tables.events(s, dir).select(col("ts_us"),
        col("event_type").as("key"), col("value"))
      TS.toInstants(ev, Seq("click", "error", "purchase", "signup", "view"),
        key = "key", ts = "ts_us", value = "value")
    }).oracle(
      """SELECT epoch_us(ts) AS ts_us,
         max(CASE WHEN event_type='click' THEN value END) AS click,
         max(CASE WHEN event_type='error' THEN value END) AS error,
         max(CASE WHEN event_type='purchase' THEN value END) AS purchase,
         max(CASE WHEN event_type='signup' THEN value END) AS signup,
         max(CASE WHEN event_type='view' THEN value END) AS "view"
         FROM events GROUP BY 1"""),
    Query("ts16_align_locf", (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("user_id"), unix_micros(date_trunc("DAY",
          timestamp_micros(col("ts_us")))).as("day_us"))
        .agg(round(avg("value"), 6).as("value"))
      TS.align(daily, dayIndex(s, dir), Some("previous"),
        key = "user_id", ts = "day_us", value = "value")
    }).oracle(
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
         FROM joined"""),
    Query("ts17_autocorr", (s, dir) => {
      TS.autocorr(obs(s, dir), Seq(1, 2), key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), round(col("acf_1"), 6).as("acf_1"),
          round(col("acf_2"), 6).as("acf_2"))
    }).oracle(
      """SELECT user_id, round(corr(value, l1), 6) AS acf_1,
         round(corr(value, l2), 6) AS acf_2 FROM (
         SELECT user_id, value, lag(value, 1) OVER w AS l1, lag(value, 2) OVER w AS l2
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
         ) t GROUP BY user_id"""),
    Query("ts18_complete_days", (s, dir) => {
      // restricted to 8 keys so complete instants actually exist in the data
      val daily = Tables.events(s, dir).filter(col("user_id") < 8)
        .groupBy(col("user_id"), unix_micros(date_trunc("DAY",
          timestamp_micros(col("ts_us")))).as("day_us"))
        .agg(round(avg("value"), 6).as("value"))
      TS.removeInstantsWithNaNs(daily, key = "user_id", ts = "day_us", value = "value")
    }).oracle(
      """WITH daily AS (
           SELECT user_id, epoch_us(date_trunc('day', ts)) AS day_us,
             round(avg(value), 6) AS value
           FROM events WHERE user_id < 8 GROUP BY 1, 2),
         full_days AS (
           SELECT day_us FROM daily GROUP BY day_us
           HAVING count(*) = (SELECT count(DISTINCT user_id) FROM events WHERE user_id < 8))
         SELECT d.user_id, d.day_us, d.value FROM daily d
         JOIN full_days f ON d.day_us = f.day_us"""),
    Query("ts19_resample_2h_closedright", (s, dir) => {
      TS.resample(obs(s, dir), 7200000000L, sum, closedRight = true,
        stampRight = true, key = "user_id", ts = "ts_us", value = "value")
        .groupBy(col("ts_us")) // collapse per-user buckets for a compact result
        .agg(count(lit(1)).as("n_series"), round(sum("value"), 4).as("total"))
    }).oracle(
      """WITH b AS (
           SELECT user_id,
             CASE WHEN epoch_us(ts) % 7200000000 = 0 THEN epoch_us(ts)
                  ELSE epoch_us(ts) - (epoch_us(ts) % 7200000000) + 7200000000 END AS ts_us,
             value
           FROM events),
         per_user AS (
           SELECT user_id, ts_us, sum(value) AS v FROM b GROUP BY 1, 2)
         SELECT ts_us, count(*) AS n_series, round(sum(v), 4) AS total
         FROM per_user GROUP BY 1"""),
    Query("ts20_filter_instant", (s, dir) => {
      // drop every timestamp bucket where any watched key breaches value>180
      val daily = Tables.events(s, dir).filter(col("user_id") < 8)
        .groupBy(col("user_id"), unix_micros(date_trunc("DAY",
          timestamp_micros(col("ts_us")))).as("day_us"))
        .agg(round(max("value"), 4).as("value"))
      TS.filterByInstant(daily, v => v <= 180.0, Seq(0L, 1L, 2L),
        key = "user_id", ts = "day_us", value = "value")
    }).oracle(
      """WITH daily AS (
           SELECT user_id, epoch_us(date_trunc('day', ts)) AS day_us,
             round(max(value), 4) AS value
           FROM events WHERE user_id < 8 GROUP BY 1, 2),
         bad AS (
           SELECT DISTINCT day_us FROM daily
           WHERE user_id IN (0, 1, 2) AND NOT (value <= 180.0))
         SELECT d.user_id, d.day_us, d.value FROM daily d
         LEFT JOIN bad b ON d.day_us = b.day_us WHERE b.day_us IS NULL"""),
    Query("ts21_interval_diff", (s, dir) => {
      // value minus the latest value at least 1 hour older, per user
      TS.differencesByInterval(obs(s, dir), 3600000000L,
        key = "user_id", ts = "ts_us", value = "value")
        .select(col("event_id"), col("user_id"), col("ts_us"), col("value").as("diff_1h"))
    }).oracle(
      """SELECT event_id, user_id, ts_us, value - base AS diff_1h FROM (
         SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
           last_value(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN UNBOUNDED PRECEDING AND 3600000000 PRECEDING) AS base
         FROM events) t"""),
    Query("ts22_ewma_smoothed", (s, dir) =>
      // fixed-alpha smoothing: recurrence arithmetic mirrors the DuckDB
      // recursive-CTE oracle exactly, so values are compared unrounded
      graft.models.ModelOps.ewmaSmoothed(obs(s, dir), alpha = 0.3,
        key = "user_id", ts = "ts_us", value = "value").toDF()
        .select(col("key").cast("long").as("user_id"), col("ts").as("ts_us"),
          col("smoothed"))).oracle(
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
         SELECT user_id, ts_us, smoothed FROM r"""),
    Query("ts23_series_coverage", (s, dir) =>
      // keep series observed before Jan 2 AND after Jan 29 (both filters)
      TS.filterEndingAfter(
        TS.filterStartingBefore(obs(s, dir), 1704153600000000L,
          key = "user_id", ts = "ts_us", value = "value"),
        1706486400000000L, key = "user_id", ts = "ts_us", value = "value")
        .select("user_id", "ts_us", "value")).oracle(
      """SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
         WHERE user_id IN (
           SELECT user_id FROM events GROUP BY user_id
           HAVING min(epoch_us(ts)) <= 1704153600000000
              AND max(epoch_us(ts)) >= 1706486400000000)"""),
    Query("ts24_trim", (s, dir) => {
      // values < 5 become nulls, then leading/trailing null runs are trimmed
      val o = obs(s, dir).withColumn("value",
        when(col("value") >= 5.0, col("value")))
      TS.trimTrailing(
        TS.trimLeading(o, key = "user_id", ts = "ts_us", value = "value"),
        key = "user_id", ts = "ts_us", value = "value")
        .select("user_id", "ts_us", "value")
    }).oracle(
      """SELECT user_id, ts_us, value FROM (
           SELECT user_id, ts_us, v AS value,
             count(v) OVER (PARTITION BY user_id ORDER BY ts_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seen,
             count(v) OVER (PARTITION BY user_id ORDER BY ts_us
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ahead
           FROM (SELECT user_id, epoch_us(ts) AS ts_us,
                   CASE WHEN value >= 5.0 THEN value END AS v FROM events) t0
         ) t WHERE seen > 0 AND ahead > 0"""),
    Query("ts25_fill_nocb", (s, dir) => {
      val o = obs(s, dir).withColumn("value",
        when(col("value") >= 5.0, col("value")))
      TS.fill(o, "next", key = "user_id", ts = "ts_us", value = "value")
        .select("user_id", "ts_us", "value")
    }).oracle(
      """SELECT user_id, ts_us,
           coalesce(v, first_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts_us
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS value
         FROM (SELECT user_id, epoch_us(ts) AS ts_us,
                 CASE WHEN value >= 5.0 THEN value END AS v FROM events) t"""),
    Query("ts26_percentiles", (s, dir) =>
      // exact per-key percentiles (linear interpolation) — the
      // quality-cutoff primitive; unrounded if engines agree bit-for-bit
      TS.seriesPercentiles(obs(s, dir), Seq(0.5, 0.9),
        key = "user_id", value = "value")).oracle(
      """SELECT user_id, quantile_cont(value, 0.5) AS p50,
         quantile_cont(value, 0.9) AS p90
         FROM events GROUP BY user_id"""),
    Query("ts27_outliers", (s, dir) =>
      // z-score anomaly detection per user series
      TS.outliers(obs(s, dir), threshold = 2.5, key = "user_id", value = "value")
        .select(col("event_id"), col("user_id"), col("value"),
          round(col("z_score"), 6).as("z_score"))).oracle(
      """SELECT event_id, user_id, value, round(z, 6) AS z_score FROM (
           SELECT event_id, user_id, value,
             (value - avg(value) OVER w) / stddev_samp(value) OVER w AS z
           FROM events WINDOW w AS (PARTITION BY user_id)) t
         WHERE abs(z) > 2.5"""),
    Query("ts28_rollstd", (s, dir) =>
      // 5-point rolling sample stddev (volatility), full windows only
      TS.rollStd(obs(s, dir), 5, RollAlign.Right,
        key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), col("ts_us"), round(col("value"), 6).as("roll_std"))).oracle(
      """SELECT user_id, ts_us, round(s, 6) AS roll_std FROM (
         SELECT user_id, epoch_us(ts) AS ts_us,
           stddev_samp(value) OVER w AS s, count(value) OVER w AS c
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
         ) t WHERE c = 5"""),
    Query("ts29_beta", (s, dir) => {
      // per-user beta/correlation vs the cross-sectional daily mean series
      val daily = Tables.events(s, dir)
        .groupBy(col("user_id"), unix_micros(date_trunc("DAY",
          timestamp_micros(col("ts_us")))).as("day_us"))
        .agg(avg("value").as("value"))
      TS.seriesBeta(daily, key = "user_id", ts = "day_us", value = "value")
        .select(col("user_id"), col("n_obs"),
          round(col("beta"), 6).as("beta"), round(col("r"), 6).as("r"))
    }).oracle(
      """WITH daily AS (
           SELECT user_id, epoch_us(date_trunc('day', ts)) AS day_us,
             avg(value) AS v
           FROM events GROUP BY 1, 2),
         market AS (SELECT day_us, avg(v) AS m FROM daily GROUP BY 1)
         SELECT user_id, count(*) AS n_obs,
           round(covar_samp(v, m) / var_samp(m), 6) AS beta,
           round(corr(v, m), 6) AS r
         FROM daily JOIN market USING (day_us)
         GROUP BY user_id"""),
    Query("ts30_decompose", (s, dir) =>
      // additive seasonal decomposition, period 7 on series position
      TS.seasonalDecompose(obs(s, dir), 7,
        key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), col("ts_us"), round(col("trend"), 6).as("trend"),
          round(col("seasonal"), 6).as("seasonal"), round(col("resid"), 6).as("resid"))).oracle(
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
         FROM s"""),
    Query("ts31_ccf", (s, dir) => {
      // lead cross-correlation: does click activity anticipate view activity?
      val daily = Tables.events(s, dir)
        .groupBy(col("user_id"), unix_micros(date_trunc("DAY",
          timestamp_micros(col("ts_us")))).as("day_us"))
        .agg(avg(when(col("event_type") === "click", col("value"))).as("x"),
          avg(when(col("event_type") === "view", col("value"))).as("y"))
      TS.crossCorrelation(daily, 2, key = "user_id", ts = "day_us", x = "x", y = "y")
        .select(col("user_id"), col("n_obs"), round(col("ccf_0"), 6).as("ccf_0"),
          round(col("ccf_1"), 6).as("ccf_1"), round(col("ccf_2"), 6).as("ccf_2"))
    }).oracle(
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
         FROM l GROUP BY user_id"""),
    Query("ts32_rollmedian", (s, dir) =>
      // 7-point rolling exact median (odd width -> a real element, unrounded)
      TS.rollMedian(obs(s, dir), 7, RollAlign.Right,
        key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), col("ts_us"), col("value").as("roll_med"))).oracle(
      """SELECT user_id, ts_us, med AS roll_med FROM (
         SELECT user_id, epoch_us(ts) AS ts_us,
           median(value) OVER w AS med, count(value) OVER w AS c
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         ) t WHERE c = 7"""),
    Query("ts33_cusum", (s, dir) =>
      // standardized-CUSUM mean-shift changepoint per user series
      TS.cusumChangepoint(obs(s, dir), key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), col("changepoint_ts"),
          round(col("cusum_stat"), 6).as("cusum_stat"))).oracle(
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
         FROM rk WHERE rk = 1"""),
    Query("ts34_winsorize", (s, dir) =>
      // per-key percentile clipping. The percentile INDEX math matched
      // bit-for-bit at sf0.01 (ts26), but at sf0.1 one series' interpolated
      // p95 differed in the last ulp — so the clipped values are rounded to
      // 6 decimals on both sides (untouched values round identically)
      TS.winsorize(obs(s, dir), 0.05, 0.95, key = "user_id", value = "value")
        .select(col("user_id"), col("ts_us"),
          round(col("value_winsorized"), 6).as("value_winsorized"))).oracle(
      // quantile_cont == Spark's exact linear-interpolation percentile
      // (bit-identical, proven by ts26), so the clipped values are unrounded
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
         q AS (SELECT user_id, quantile_cont(value, 0.05) AS lo,
             quantile_cont(value, 0.95) AS hi
           FROM e GROUP BY user_id)
         SELECT user_id, ts_us,
           round(least(greatest(value, lo), hi), 6) AS value_winsorized
         FROM e JOIN q USING (user_id)"""),
    Query("ts35_trend", (s, dir) =>
      // per-key OLS trend over series position. The checked variant solves
      // the normal equations from exact integer sums on a 1e-6 value grid —
      // bit-identical across engines, unlike the streaming regr_* moments
      TS.linearTrendQuantized(obs(s, dir), gridScale = 1e6,
        key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), col("n_obs"), round(col("slope"), 6).as("slope"),
          round(col("intercept"), 6).as("intercept"))).oracle(
      // normal equations from exact integer sums on the 1e-6 value grid: every
      // intermediate is integer-exact, so slope/intercept are bit-identical to
      // the Spark side (streaming regr_* moments differ in the last ulp)
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
         FROM f"""),
    Query("ts36_rollrange", (s, dir) =>
      // 7-point rolling min/max/range envelope — exact, unrounded
      TS.rollRange(obs(s, dir), 7, RollAlign.Right,
        key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), col("ts_us"),
          col("roll_min"), col("roll_max"), col("roll_range"))).oracle(
      """SELECT user_id, ts_us, mn AS roll_min, mx AS roll_max,
           mx - mn AS roll_range FROM (
         SELECT user_id, epoch_us(ts) AS ts_us,
           min(value) OVER w AS mn, max(value) OVER w AS mx,
           count(value) OVER w AS c
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         ) t WHERE c = 7"""),
    Query("ts37_seasonal_strength", (s, dir) =>
      // STL-era seasonal/trend strength diagnostics per series, period 7
      TS.seasonalStrength(obs(s, dir), 7, key = "user_id", ts = "ts_us",
        value = "value")
        .select(col("user_id"), col("n_obs"),
          round(col("seasonal_strength"), 6).as("seasonal_strength"),
          round(col("trend_strength"), 6).as("trend_strength"))).oracle(
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
         FROM s WHERE trend IS NOT NULL GROUP BY user_id"""),
    Query("ts38_drawdown", (s, dir) =>
      // per-series max peak-to-trough decline + earliest trough instant;
      // max/subtraction are exact, so compared unrounded
      TS.maxDrawdown(obs(s, dir), key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), col("max_drawdown"),
          col("trough_ts").as("trough_ts_us"))).oracle(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
         r AS (SELECT user_id, ts_us,
             max(value) OVER (PARTITION BY user_id ORDER BY ts_us
               ROWS UNBOUNDED PRECEDING) - value AS dd
           FROM e),
         m AS (SELECT user_id, ts_us, dd,
             max(dd) OVER (PARTITION BY user_id) AS mx FROM r)
         SELECT user_id, max(dd) AS max_drawdown, min(ts_us) AS trough_ts_us
         FROM m WHERE dd = mx GROUP BY user_id"""),
    Query("ts39_gaps", (s, dir) =>
      // sampling-gap diagnostics per series (micros); exact ints + the
      // interpolated median percentile ts26 proved engine-bit-identical
      TS.gapStats(obs(s, dir), key = "user_id", ts = "ts_us")).oracle(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
         g AS (SELECT user_id,
             ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS gap
           FROM e)
         SELECT user_id, count(*) AS n_gaps, max(gap) AS max_gap,
           sum(gap)::BIGINT AS sum_gap, quantile_cont(gap, 0.5) AS p50_gap
         FROM g WHERE gap IS NOT NULL GROUP BY user_id"""),
    Query("ts40_entropy", (s, dir) =>
      // 10-bin Shannon entropy of each series' value distribution
      TS.valueEntropy(obs(s, dir), bins = 10, key = "user_id", value = "value")).oracle(
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
         FROM t GROUP BY user_id"""),
    Query("ts41_crossings", (s, dir) =>
      // mean-crossing count, above-mean count, longest above-mean run
      TS.meanCrossings(obs(s, dir), key = "user_id", ts = "ts_us", value = "value")).oracle(
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
         FROM c LEFT JOIN l ON c.user_id = l.user_id"""),
    Query("ts42_mad", (s, dir) =>
      // robust location/dispersion: exact median + MAD per series; p50
      // interpolation (fraction 0.5) is binary-exact, compared unrounded
      TS.madStats(obs(s, dir), key = "user_id", value = "value")).oracle(
      """WITH e AS (SELECT user_id, value FROM events WHERE value IS NOT NULL),
         m AS (SELECT user_id, value,
             quantile_cont(value, 0.5) OVER (PARTITION BY user_id) AS med
           FROM e)
         SELECT user_id, count(*) AS n_obs, max(med) AS median,
           quantile_cont(abs(value - med), 0.5) AS mad
         FROM m GROUP BY user_id"""),
    Query("ts43_rollcorr", (s, dir) =>
      // 7-day rolling correlation of each user's daily mean vs the market
      TS.rollCorr(dailyWithMarket(s, dir), 7, RollAlign.Right,
        key = "user_id", ts = "day_us", x = "value", y = "mkt")
        .select(col("user_id"), col("day_us"),
          round(col("roll_corr"), 6).as("roll_corr"))).oracle(
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
         SELECT user_id, day_us, round(rc, 6) AS roll_corr FROM r WHERE cnt = 7"""),
    Query("ts44_halflife", (s, dir) =>
      // AR(1) phi + mean-reversion half-life per user
      TS.halfLife(obs(s, dir), key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), col("n_pairs"), round(col("phi"), 6).as("phi"),
          round(col("half_life"), 6).as("half_life"))).oracle(
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
         FROM r"""),
    Query("ts45_spearman", (s, dir) =>
      // Spearman rank correlation of each user's daily mean vs the market
      TS.spearmanCorr(dailyWithMarket(s, dir), key = "user_id",
        x = "value", y = "mkt")
        .select(col("user_id"), col("n_obs"),
          round(col("spearman_rho"), 6).as("spearman_rho"))).oracle(
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
         FROM r GROUP BY user_id"""),
    Query("ts46_asof", (s, dir) => {
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
    }).oracle(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
         daily AS (
           SELECT user_id, epoch_us(date_trunc('day', ts)) AS dts,
             avg(value) AS dval
           FROM events GROUP BY 1, 2)
         SELECT e.user_id, e.ts_us, e.value, round(d.dval, 6) AS asof_value
         FROM e ASOF LEFT JOIN daily d
           ON e.user_id = d.user_id AND e.ts_us >= d.dts"""),
    Query("ts47_hurst", (s, dir) =>
      // aggregated-variance Hurst exponent over block sizes 1..16
      TS.hurst(obs(s, dir), key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), col("n_scales"),
          round(col("hurst"), 6).as("hurst"))).oracle(
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
         FROM f GROUP BY user_id"""),
    Query("ts48_periodogram", (s, dir) =>
      // classical periodogram of each user's daily series at Fourier
      // frequencies k=1..8 (mean-centered; direct O(n*maxK) sums — exact
      // and engine-reproducible where an FFT's butterfly order isn't)
      TS.periodogram(dailyWithMarket(s, dir)
          .select(col("user_id"), col("day_us"), col("value")),
        maxK = 8, key = "user_id", ts = "day_us", value = "value")
        .select(col("user_id"), col("k"), col("n_obs"),
          round(col("power"), 6).as("power"),
          round(col("period"), 6).as("period"))).oracle(
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
         FROM g"""),
    Query("ts49_rollquantile", (s, dir) =>
      // trailing-10 rolling p90 (nearest-rank: the 9th smallest, a real
      // element — unrounded, engine-exact; the standard latency monitor)
      TS.rollQuantile(obs(s, dir), 10, 0.9, RollAlign.Right,
        key = "user_id", ts = "ts_us", value = "value")
        .select(col("user_id"), col("ts_us"), col("value").as("roll_p90"))).oracle(
      // nearest-rank: the ceil(0.9*10) = 9th smallest element of the full
      // window — element selection, no interpolation, engine-exact
      """SELECT user_id, ts_us, list_sort(l)[9] AS roll_p90 FROM (
         SELECT user_id, epoch_us(ts) AS ts_us,
           list(value) OVER w AS l, count(value) OVER w AS c
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
         ) t WHERE c = 10"""),
    // Converter / IO round-trip certification rows: the 12 SURVEY §2
    // operators that previously had only ScalaTest specs each get a
    // driver-hash-checked row (VERDICT r15 directive #1). All have TRUE
    // DuckDB oracles — the round trips land back on SQL-expressible frames.
    Query("ts50_series_roundtrip", (s, dir) => {
      // toSeries (scatter to ARRAY<DOUBLE>, NaN gaps) then fromSeries
      // (posexplode melt, NaN drop) is the identity on the observations
      // that exist: certifies toObservationsDataFrame semantics
      // (reference TimeSeriesRDD.scala:419-443)
      val daily = dailyKeyed(s, dir)
      val index = dayIndex(s, dir)
      val series = TS.toSeries(daily, index, key = "key", ts = "day_us", value = "value")
      TS.fromSeries(series, index, key = "key")
        .select(col("key"), col("ts_nanos").as("day_us"),
          round(col("value"), 6).as("value"))
    }).oracle(
      s"""WITH $dailyCte
         SELECT key, day_us, round(value, 6) AS value FROM daily"""),
    Query("ts51_io_parquet_roundtrip", (s, dir) => {
      // parquet + _index sidecar round trip (reference
      // saveAsParquetDataFrame / timeSeriesRDDFromParquet:
      // TimeSeriesRDD.scala:498-551): write series layout + index tag,
      // read both back, melt, and assert the parsed index matches
      val daily = dailyKeyed(s, dir)
      val index = dayIndex(s, dir)
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
    }).oracle(
      s"""WITH $dailyCte
         SELECT key, day_us, round(value, 6) AS value, TRUE AS index_match
         FROM daily"""),
    Query("ts52_io_csv_roundtrip", (s, dir) => {
      // CSV (key,v0,v1,...) + _index sidecar round trip (reference CSV
      // save/load: TimeSeriesRDD.scala:750-780)
      val daily = dailyKeyed(s, dir)
      val index = dayIndex(s, dir)
      val series = TS.toSeries(daily, index, key = "key", ts = "day_us", value = "value")
      Replay.roundTrip("graft_ts52_") { path =>
        graft.io.TimeSeriesIO.writeSeriesCsv(series, index, path)
        val (back, backIdx) = graft.io.TimeSeriesIO.readSeriesCsv(s, path)
        TS.fromSeries(back, backIdx, key = "key")
          .select(col("key"), col("ts_nanos").as("day_us"),
            round(col("value"), 6).as("value"),
            lit(backIdx.tag == index.tag).as("index_match"))
      }
    }).oracle(
      s"""WITH $dailyCte
         SELECT key, day_us, round(value, 6) AS value, TRUE AS index_match
         FROM daily"""),
    Query("ts53_yahoo_parse", (s, dir) =>
      // Yahoo OHLCV CSV parse of the GOOG fixture (reference
      // parsers/YahooParser.scala:24-48): per-file key prefixing, 6 stacked
      // fields, reverse-chronological input — the oracle re-reads the same
      // file in DuckDB and unpivots
      graft.io.TimeSeriesIO.readYahooCsv(s, googCsvPath)
        .select(col("key"), (col("ts_nanos") / 1000L).cast("long").as("ts_us"),
          round(col("value"), 6).as("value"))).oracle(
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
         FROM u WHERE v IS NOT NULL"""),
    Query("ts54_indexed_row_matrix", (s, dir) => {
      // instants pivot -> MLlib IndexedRowMatrix (reference
      // toIndexedRowMatrix: TimeSeriesRDD.scala:456-486): per-row (= per
      // index location) NaN-aware stats plus the matrix dims
      // capped at the 300 lowest keys: the pivot goes one column per key,
      // and a 1500-column codegen'd pivot at sf0.1 is bench cost without
      // extra certification value (all SFs <= 0.02 keep every key)
      val daily = dailyKeyed(s, dir).filter(col("key").cast("long") < 300)
      val index = dayIndex(s, dir)
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
    }).oracle(
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
         GROUP BY 1, dims.n_rows_total, dims.n_cols"""),
    Query("ts55_row_matrix", (s, dir) => {
      // zero-filled instants -> MLlib RowMatrix (reference toRowMatrix:
      // TimeSeriesRDD.scala:456-466): rows are unindexed, so the
      // certification output is the multiset of per-row stats (the driver
      // compare sorts rows)
      val daily = dailyKeyed(s, dir).filter(col("key").cast("long") < 300)
      val index = dayIndex(s, dir)
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
    }).oracle(
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
         GROUP BY g.day_us"""),
    Query("ts56_find_series", (s, dir) => {
      // findSeries (point lookup, driver-side array) and collectAsTimeSeries
      // (whole-panel collect) on the three lowest keys; both melted back to
      // observations (collect side drops the NaN gaps) and unioned with a
      // source tag (reference TimeSeriesRDD.scala:96-107)
      val daily = dailyKeyed(s, dir)
      val keep = Seq("0", "1", "2")
      val index = dayIndex(s, dir)
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
    }).oracle(
      s"""WITH $dailyCte
         SELECT key, day_us, round(value, 6) AS value, src
         FROM daily CROSS JOIN (VALUES ('find'), ('collect')) AS t(src)
         WHERE key IN ('0', '1', '2')"""),
    Query("ts57_map_series", (s, dir) => {
      // mapSeries (whole-vector demean, NaN-aware) composed with
      // mapSeriesWithKey (key-dependent scale) on the series layout
      // (reference TimeSeriesRDD.scala:249-260, TimeSeries.scala:340)
      val daily = dailyKeyed(s, dir)
      val index = dayIndex(s, dir)
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
    }).oracle(
      s"""WITH $dailyCte
         SELECT key, day_us,
           round((value - min(value) OVER (PARTITION BY key))
             * (key::BIGINT % 3 + 1), 6) AS value
         FROM daily"""),
    Query("ts58_index_union", (s, dir) => {
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
    }).oracle(
      """WITH t AS (
           SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
             TIMESTAMP '2024-02-10', INTERVAL 1 DAY)) AS ts
           UNION ALL SELECT TIMESTAMP '2024-01-15 12:00:00'
           UNION ALL SELECT TIMESTAMP '2024-02-20 00:00:00'
           UNION ALL SELECT TIMESTAMP '2024-03-01 00:00:00'),
         s AS (SELECT DISTINCT epoch_us(ts) AS ts_us FROM t)
         SELECT row_number() OVER (ORDER BY ts_us) - 1 AS loc, ts_us,
           4::BIGINT AS n_segments
         FROM s"""),
    Query("ts59_lag_spec", (s, dir) =>
      // per-key lag specification: key "1" keeps the original with 2 lags,
      // key "2" drops the original with 1 lag, key "3" keeps with 1 lag,
      // unlisted keys pass through untouched (reference TimeSeries.scala:
      // 58-158 / Lag.scala:25-129 lagsPerColumn)
      TS.lags(dailyKeyed(s, dir),
        Map("1" -> (true, 2), "2" -> (false, 1), "3" -> (true, 1)),
        key = "key", ts = "day_us", value = "value")
        .select(col("key"), col("day_us"), round(col("value"), 6).as("value"),
          round(col("lag_1"), 6).as("lag_1"), round(col("lag_2"), 6).as("lag_2"))).oracle(
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
                          WHEN key IN ('2', '3') THEN 1 ELSE 0 END)"""),
    Query("ts60_upsample", (s, dir) => {
      // upsample the daily panel onto a 12-hourly index: original instants
      // keep their value, interleaved new instants are null (reference
      // UnivariateTimeSeries.scala:350-373 upsample semantics)
      val daily = dailyKeyed(s, dir)
      val dense = dayIndex(s, dir, step = dayUsTick / 2)
      TS.upsample(daily, dense, fillMethod = None,
        key = "key", ts = "day_us", value = "value")
        .select(col("key"), col("day_us"), round(col("value"), 6).as("value"))
    }).oracle(
      s"""WITH $dailyCte,
         b AS (SELECT epoch_us(date_trunc('day', min(ts))) AS lo,
                      epoch_us(date_trunc('day', max(ts))) AS hi FROM events),
         grid AS (SELECT unnest(range(lo, hi + 1, 43200000000)) AS day_us FROM b),
         keys AS (SELECT DISTINCT user_id::VARCHAR AS key FROM events)
         SELECT k.key, g.day_us, round(d.value, 6) AS value
         FROM keys k CROSS JOIN grid g
         LEFT JOIN daily d ON d.key = k.key AND d.day_us = g.day_us"""),
    Query("ts61_fill_zero_value", (s, dir) => {
      // fill("zero") and fill("value", -1) over the aligned (null-gap)
      // daily panel (reference UnivariateTimeSeries.scala fillValue/zero)
      val daily = dailyKeyed(s, dir)
      val index = dayIndex(s, dir)
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
    }).oracle(
      s"""WITH $dailyCte,
         b AS (SELECT epoch_us(date_trunc('day', min(ts))) AS lo,
                      epoch_us(date_trunc('day', max(ts))) AS hi FROM events),
         grid AS (SELECT unnest(range(lo, hi + 1, 86400000000)) AS day_us FROM b),
         keys AS (SELECT DISTINCT user_id::VARCHAR AS key FROM events)
         SELECT k.key, g.day_us,
           round(coalesce(d.value, 0.0), 6) AS v_zero,
           round(coalesce(d.value, -1.0), 6) AS v_const
         FROM keys k CROSS JOIN grid g
         LEFT JOIN daily d ON d.key = k.key AND d.day_us = g.day_us"""),
    Query("ts62_series_union", (s, dir) => {
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
    }).oracle(
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
         FROM b LEFT JOIN a ON a.key = b.key AND a.day_us = b.day_us"""),
    Query("ts63_decompose_even", (s, dir) =>
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
          round(col("resid") + 1e-9, 6).as("resid"))).oracle(
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
         FROM s""")
  )
}
