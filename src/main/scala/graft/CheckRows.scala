package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The certification shape shared by the mr*, rc*, qs*, em06 and smp10
  * queries: `(key, check_name, ok)` rows, and a constant-SELECT DuckDB
  * oracle that expects every listed check to hold. */
private[graft] object CheckRows {

  def frame(checks: Dataset[(String, String, Boolean)]): DataFrame =
    checks.toDF("key", "check_name", "ok")

  def frame(s: SparkSession, checks: Seq[(String, String, Boolean)]): DataFrame = {
    import s.implicits._
    frame(checks.toDS())
  }

  /** Every `(key, check_name)` pair expected true. */
  def oracle(expected: Seq[(String, String)]): String =
    "SELECT * FROM (VALUES " +
      expected.map { case (k, c) => s"('$k', '$c', true)" }.mkString(", ") +
      ") AS t(key, check_name, ok)"
}
