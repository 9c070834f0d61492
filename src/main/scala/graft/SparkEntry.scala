package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.driver._
import graft.driver.Shared.{dayIndex, obs}
import graft.ts.{RollAlign, TimeSeriesOps => TS}

/** Driver contract — see SURVEY.md §7. Every query, and its DuckDB oracle
  * beside it, is registered once in a `graft.driver` family module; this
  * object only concatenates the families. */
object SparkEntry {

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
    val index = dayIndex(spark, dir) // micros units; index is unit-agnostic
    val aligned = TS.align(daily.select(col("user_id"), col("day_us"), col("value")),
      index, fillMethod = Some("linear"), key = "user_id", ts = "day_us", value = "value")
    val smoothed = TS.rollMean(aligned, 7, RollAlign.Right,
      key = "user_id", ts = "day_us", value = "value")
    graft.models.ModelOps.forecastArima(smoothed, 1, 0, 1, h = 10,
      key = "user_id", ts = "day_us", value = "value").toDF()
  }

  private[graft] val families: Seq[Seq[Query]] = Seq(TsQueries.queries,
    ModelQueries.queries, DedupQueries.queries, SimQueries.queries,
    TextQueries.queries, EventQueries.queries, StreamingQueries.queries,
    SketchQueries.queries)

  /** One per implemented operator from SURVEY.md §2. */
  // lazy val (ADVICE r15 #3): the digest twins look their surface up by
  // name at run time (the no-drift guarantee); hoisting the Map means that
  // lookup reuses one instance instead of rebuilding it per twin
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    families.flatten.map(q => q.id -> q.build).toMap

  /** For each query with an oracle: equivalent DuckDB SQL over the same
    * parquet tables. Built on every call; `queries` builds none of it. */
  def oracleSql: Map[String, String] =
    families.flatten.flatMap(q => q.oracleSql.map(q.id -> _)).toMap
}
