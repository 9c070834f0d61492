package graft
package driver

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.IrregularDateTimeIndex

/** Frames and digests used by more than one query family. */
private[graft] object Shared {

  /** events as observations: key=user_id, ts=ts_us (micros long), value. */
  def obs(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(col("event_id"), col("user_id"), col("ts_us"), col("value"))

  val dayUsTick = 86400000000L

  /** The events' daily index (micros), `step` apart from the first day to
    * the last. The day bounds come from the RAW ts column: day truncation is
    * monotone, so trunc(min(ts)) == min(trunc(ts)), and the prelim bounds
    * job is a shuffle-free scalar column scan instead of re-running the
    * whole daily aggregation before the main job. (align/toSeries need a
    * driver-side DateTimeIndex, so one scalar collect is inherent to the
    * index-based API; this keeps it as cheap as it can be.) */
  def dayIndex(s: SparkSession, dir: String, step: Long = dayUsTick): IrregularDateTimeIndex = {
    val row = Tables.events(s, dir).agg(min(col("ts_us")), max(col("ts_us"))).collect()(0)
    val lo = Math.floorDiv(row.getLong(0), dayUsTick) * dayUsTick
    val hi = Math.floorDiv(row.getLong(1), dayUsTick) * dayUsTick
    IrregularDateTimeIndex((lo to hi by step).toArray)
  }

  /** (md5 of newline-joined sorted lines, pair count) — the digest shape
    * behind dd15-dd17; `line` must render one pair per row. */
  def pairDigest(pairs: DataFrame, line: Column): DataFrame =
    pairs.select(line.as("__line"))
      .agg(md5(array_join(sort_array(collect_list(col("__line"))), "\n")
          .cast("binary")).as("digest"),
        count(lit(1)).as("n_pairs"))

  /** Per-user daily mean joined with the cross-sectional daily mean
    * ("market") — the co-sampled two-series frame behind ts29/m24/m25/ts43.
    * The market side is one row per day; the join is un-hinted (AQE
    * broadcasts it iff it fits, same reasoning as seriesBeta). */
  def dailyWithMarket(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("user_id"), unix_micros(date_trunc("DAY",
        timestamp_micros(col("ts_us")))).as("day_us"))
      .agg(avg("value").as("value"))
    val mkt = daily.groupBy(col("day_us")).agg(avg(col("value")).as("mkt"))
    daily.join(mkt, Seq("day_us"))
  }
}
