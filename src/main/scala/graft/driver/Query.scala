package graft
package driver

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: its id, the DataFrame it builds over an SF directory
  * and, when its result is SQL-expressible, the DuckDB oracle that
  * `graft.Verify` hands to the hash compare. The oracle is registered with
  * the query and built only on demand, so listing the queries builds no
  * SQL. */
final class Query private (val id: String,
    val build: (SparkSession, String) => DataFrame,
    sql: Option[() => String]) {

  /** This query, checked against `oracle`: DuckDB SQL over the same tables
    * whose rows must equal the query's (sorted, exact). */
  def oracle(oracle: => String): Query = new Query(id, build, Some(() => oracle))

  def oracleSql: Option[String] = sql.map(_())
}

object Query {
  def apply(id: String, build: (SparkSession, String) => DataFrame): Query =
    new Query(id, build, None)
}
