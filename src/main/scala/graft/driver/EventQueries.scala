package graft
package driver

import org.apache.spark.sql.functions._

/** Event-analytics driver queries ([[graft.events]]): sessions, funnels,
  * retention, transitions, bursts and interval joins; plus the relational
  * aggregates q01-q06 over the TPC-H-style tables. */
object EventQueries {

  val queries: Seq[Query] = Seq(
    Query("ev01_sessions", (s, dir) =>
      // gap-based sessionization (4h inactivity closes a session)
      graft.events.EventOps.sessions(Tables.events(s, dir), gapUs = 14400000000L)
        .select(col("user_id"), col("session_no"), col("session_start"),
          col("session_end"), col("duration_us"), col("n_events"),
          round(col("sum_value"), 6).as("sum_value"))).oracle(
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
         FROM sess GROUP BY user_id, session_no"""),
    Query("ev02_funnel", (s, dir) =>
      // strictly-ordered view -> click -> purchase funnel per user
      graft.events.EventOps.funnel(Tables.events(s, dir),
        Seq("view", "click", "purchase"))
        .select(col("user_id"), col("t_1"), col("t_2"), col("t_3"), col("reached"))).oracle(
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
         FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)"""),
    Query("ev03_retention", (s, dir) =>
      // cohort retention grid: first-active day x day offset -> active users
      graft.events.EventOps.retention(Tables.events(s, dir))).oracle(
      """WITH active AS (SELECT DISTINCT user_id,
             epoch_us(date_trunc('day', ts)) AS day_us FROM events),
         coh AS (SELECT user_id, min(day_us) AS cohort_day_us
           FROM active GROUP BY user_id)
         SELECT cohort_day_us,
           (day_us - cohort_day_us) // 86400000000 AS day_offset,
           count(DISTINCT user_id) AS n_users
         FROM active JOIN coh USING (user_id) GROUP BY 1, 2"""),
    Query("ev04_transitions", (s, dir) =>
      // within-session event-type Markov table (4h session gap); counts and
      // exact-int mean gaps, unrounded
      graft.events.EventOps.transitions(Tables.events(s, dir), gapUs = 14400000000L)).oracle(
      // avg of exact int64 gaps: sums and counts are exact in both engines,
      // the single double division is deterministic — unrounded
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
         FROM nx WHERE to_type IS NOT NULL GROUP BY 1, 2"""),
    Query("ev05_session_stats", (s, dir) =>
      // corpus-level session-shape distribution: exact percentiles over the
      // ev01 session summaries (one extra global aggregate)
      graft.events.EventOps.sessions(Tables.events(s, dir), gapUs = 14400000000L)
        .agg(count(lit(1)).as("n_sessions"),
          percentile(col("duration_us"), lit(0.5)).as("p50_duration_us"),
          percentile(col("duration_us"), lit(0.9)).as("p90_duration_us"),
          percentile(col("n_events"), lit(0.5)).as("p50_events"),
          round(avg(col("sum_value")), 6).as("avg_session_value"))).oracle(
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
         FROM agg"""),
    Query("ev06_interevent", (s, dir) =>
      // idle-time-before-event-type distribution (gap attributed to the
      // later event's type); exact ints + interpolated median
      graft.events.EventOps.interEventStats(Tables.events(s, dir))).oracle(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
         g AS (SELECT event_type,
             ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS gap
           FROM e)
         SELECT event_type, count(*) AS n_gaps, max(gap) AS max_gap_us,
           sum(gap)::BIGINT AS sum_gap_us, quantile_cont(gap, 0.5) AS p50_gap_us
         FROM g WHERE gap IS NOT NULL GROUP BY event_type"""),
    Query("ev07_bursts", (s, dir) =>
      // peak events in any trailing 1h window per user (RANGE time frame)
      graft.events.EventOps.bursts(Tables.events(s, dir), windowUs = 3600000000L)).oracle(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
         b AS (SELECT user_id, count(*) OVER (PARTITION BY user_id ORDER BY ts_us
             RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW) AS burst
           FROM e)
         SELECT user_id, count(*) AS n_events, max(burst) AS max_burst
         FROM b GROUP BY user_id"""),
    Query("ev08_stickiness", (s, dir) =>
      // DAU/WAU engagement stickiness per 7-epoch-day window
      graft.events.EventOps.stickiness(Tables.events(s, dir))
        .select(col("week_no"), col("wau"), col("n_active_days"),
          round(col("avg_dau"), 6).as("avg_dau"),
          round(col("stickiness"), 6).as("stickiness"))).oracle(
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
         FROM w JOIN dd USING (week)"""),
    Query("ev09_top_paths", (s, dir) =>
      // 20 most common first-3-event session paths (4h session gap)
      graft.events.EventOps.topPaths(Tables.events(s, dir),
        gapUs = 14400000000L, n = 3, k = 20)).oracle(
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
         ORDER BY n_sessions DESC, path LIMIT 20"""),
    Query("ev10_decay_score", (s, dir) =>
      // recency-weighted activity score, 7-day half-life from the global
      // latest event (one broadcast scalar + one keyed aggregation)
      graft.events.EventOps.decayScore(Tables.events(s, dir),
        halfLifeUs = 604800000000L)).oracle(
      """WITH m AS (SELECT max(epoch_us(ts)) AS mx FROM events)
         SELECT user_id, count(*) AS n_events,
           round(sum(value), 6) AS raw_sum,
           round(sum(value * pow(2.0,
             -((mx - epoch_us(ts))::DOUBLE) / 604800000000.0)), 6)
             AS decay_score
         FROM events, m WHERE value IS NOT NULL GROUP BY user_id"""),
    Query("ev11_conversion_latency", (s, dir) =>
      // first-view -> first-later-purchase latency distribution: one
      // global aggregate over the user-cardinality funnel table
      graft.events.EventOps.conversionLatency(Tables.events(s, dir),
        "view", "purchase")).oracle(
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
         FROM f"""),
    Query("ev12_interval_join", (s, dir) => {
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
    }).oracle(
      """WITH c AS (SELECT DISTINCT user_id, epoch_us(ts) AS start_us,
             epoch_us(ts) + 7200000000 AS end_us
           FROM events WHERE event_type = 'click'),
         v AS (SELECT user_id, epoch_us(ts) AS ts_us
           FROM events WHERE event_type = 'view')
         SELECT c.user_id, c.start_us, count(v.ts_us)::BIGINT AS n_views
         FROM c LEFT JOIN v ON v.user_id = c.user_id
           AND v.ts_us >= c.start_us AND v.ts_us < c.end_us
         GROUP BY 1, 2"""),
    Query("q01_pricing_summary", (s, dir) => {
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
    }).oracle(
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
         GROUP BY l_returnflag, l_linestatus"""),
    Query("q02_revenue_by_nation", (s, dir) => {
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum("o_totalprice"), 2).as("revenue"), count(lit(1)).as("n_orders"))
    }).oracle(
      """SELECT n_name, round(sum(o_totalprice),2) AS revenue, count(*) AS n_orders
         FROM orders JOIN customer ON o_custkey=c_custkey
         JOIN nation ON c_nationkey=n_nationkey GROUP BY n_name"""),
    Query("q03_brand_volume", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val p = Tables.part(s, dir)
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy("p_brand")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
    }).oracle(
      """SELECT p_brand, round(sum(l_quantity),2) AS sum_qty,
         round(sum(l_extendedprice*(1-l_discount)),2) AS revenue, count(*) AS n_items
         FROM lineitem JOIN part ON l_partkey=p_partkey GROUP BY p_brand"""),
    Query("q04_priority_count", (s, dir) => {
      Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("order_count"))
    }).oracle(
      """SELECT o_orderpriority, count(*) AS order_count FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY o_orderpriority"""),
    Query("q05_nation_pairs", (s, dir) => {
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
    }).oracle(
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           round(sum(round(l_extendedprice * (1 - l_discount) * 100, 0)) / 100, 2)
             AS revenue,
           count(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation sn ON s_nationkey = sn.n_nationkey
         JOIN nation cn ON c_nationkey = cn.n_nationkey
         GROUP BY 1, 2"""),
    Query("q06_ship_priority", (s, dir) => {
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
    }).oracle(
      """SELECT l_orderkey, epoch_us(o_orderdate) AS orderdate_us,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
           AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
         GROUP BY l_orderkey, orderdate_us
         ORDER BY revenue DESC, l_orderkey LIMIT 10""")
  )
}
