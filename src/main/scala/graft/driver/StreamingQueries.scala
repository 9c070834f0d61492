package graft
package driver

import org.apache.spark.sql.functions._

import graft.streaming.Replay

import Shared.{dayUsTick, pairDigest}

/** Streaming batch-parity replays ([[graft.streaming]], VERDICT r16 #5):
  * the Structured Streaming surfaces run as REAL streams (readStream →
  * operator → sink, availableNow trigger) over the SF table and the oracle
  * compare hash-checks the emitted result against the BATCH semantics in
  * DuckDB. Certifies that a streaming deployment of the operator converges
  * to the batch answer on a full replay. Fixture, stream, state
  * parallelism, sink and cleanup: [[graft.streaming.Replay]]. */
object StreamingQueries {

  val queries: Seq[Query] = Seq(
    Query("st01_streaming_resample_replay", (s, dir) => {
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
    }).oracle(
      // st01/st02: the oracle IS the batch semantics — a full availableNow
      // replay of the stream must converge to it exactly
      """SELECT user_id, epoch_us(date_trunc('day', ts)) AS day_us,
         round(sum(value), 4) AS sum_value
         FROM events GROUP BY 1, 2"""),
    Query("st02_streaming_dedup_replay", (s, dir) => {
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
    }).oracle(
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text),'[^a-z0-9 ]',' ','g'),' +',' ','g'))) AS fingerprint,
         CAST(1 AS BIGINT) AS n_survivors
         FROM documents GROUP BY 1"""),
    Query("st03_streaming_hh_replay", (s, dir) => {
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
    }).oracle(
      """WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS token
                    FROM documents)
         SELECT token, count(*)::BIGINT AS n, 0::BIGINT AS max_err
         FROM t WHERE token <> '' GROUP BY token"""),
    Query("st04_streaming_late_drop", (s, dir) => {
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
    }).oracle(
      // st04: the oracle recomputes the watermark kept-set — every on-time
      // row, plus held-back (user_id%5==2) rows only when their day bucket is
      // within 2 days of the stream's max bucket (the recovered watermark)
      """WITH ev AS (
           SELECT user_id,
                  epoch_us(ts) - (epoch_us(ts) % 86400000000) AS bucket
           FROM events),
         wm AS (SELECT max(bucket) - 2*86400000000 AS thresh FROM ev),
         kept AS (
           SELECT e.user_id, e.bucket FROM ev e, wm w
           WHERE e.user_id % 5 <> 2 OR e.bucket >= w.thresh)
         SELECT user_id, bucket AS day_us, count(*) AS n_events
         FROM kept GROUP BY 1, 2"""),
    Query("st05_streaming_idx_neardup_digest", (s, dir) => {
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
    }).oracle(
      // derived from the dd03 golden the same way: its 13 pairs with exactly
      // one side < 250 (the stream operator emits only stream-x-index pairs)
      """SELECT 'd9a0231808340962e80b40f0d7b8ec35' AS digest, 13::BIGINT AS n_pairs"""),
    Query("st06_streaming_lateness_replay", (s, dir) => {
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
    }).oracle(
      // st06: the lateness-API twin — 2-day buckets, raw lateness 1 day, so
      // the compensated watermark threshold is (on-time max bucket) - 3 days;
      // held-back (user_id%5==3) rows are kept only at or above it
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
         FROM kept GROUP BY 1, 2""")
  )
}
