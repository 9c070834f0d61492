package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD

/**
 * Column <-> catalyst Expression bridge. Spark 4 made the converters
 * `private[sql]` (org.apache.spark.sql.classic.ExpressionUtils), so custom
 * Catalyst expressions (graft.text.RollingHash) reach them through this
 * package-located shim — the standard pattern for Spark extension libraries.
 * It also holds the one plan-level hook graft needs, `withRowCount`.
 */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly convert a functions-API Column into a catalyst expression tree
    * (UnresolvedFunction nodes the analyzer then resolves). The plain
    * `expression` wrapper defers conversion inside an opaque
    * ColumnNodeExpression, which never resolves when returned from a
    * FunctionRegistry builder. */
  def analyzableExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** A local checkpoint planned with its true row count. A checkpoint
    * otherwise keeps the optimizer's size estimate of the plan it cut, and an
    * iterative join over checkpoints compounds that estimate every round
    * (join sizes multiply), until planning alone takes minutes. */
  def withRowCount(checkpoint: DataFrame, rows: Long): DataFrame =
    checkpoint.queryExecution.logical match {
      case r: LogicalRDD =>
        val session = checkpoint.sparkSession.asInstanceOf[classic.SparkSession]
        val stats = Statistics(sizeInBytes = EstimationUtils.getSizePerRow(r.output) * rows,
          rowCount = Some(BigInt(rows)))
        classic.Dataset.ofRows(session, r.copy()(session, Some(stats), None))
      case other =>
        throw new IllegalArgumentException(s"not a checkpoint: ${other.nodeName}")
    }
}
