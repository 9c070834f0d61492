package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListener
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.streaming.runtime.{StreamingQueryListenerBus,
  StreamingQueryWrapper}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/**
 * Column <-> catalyst Expression bridge. Spark 4 made the converters
 * `private[sql]` (org.apache.spark.sql.classic.ExpressionUtils), so custom
 * Catalyst expressions (graft.text.RollingHash) reach them through this
 * package-located shim — the standard pattern for Spark extension libraries.
 * It also holds the one plan-level hook graft needs, `withRowCount`, and
 * the streaming listener-bus hooks `Replay` cleans up with.
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

  /** The streaming listener buses registered on `sc`. A session's
    * `StreamingQueryManager` adds one when it is created, and Spark never
    * removes it. */
  def streamingListenerBuses(sc: SparkContext): Seq[SparkListener] =
    sc.listenerBus.findListenersByClass[StreamingQueryListenerBus]()

  /** The clone of its session that a started query runs its batches on. */
  def streamSession(q: StreamingQuery): SparkSession =
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery.sparkSessionForStream

  /** Removes the listener bus of `session`'s streaming query manager from
    * the SparkContext (a manager that does not exist yet is made first).
    * The bus is the one that holds a probe listener added to the manager. */
  def removeStreamingListenerBus(session: SparkSession): Unit = {
    val probe = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    session.streams.addListener(probe)
    val bus = try streamingListenerBuses(session.sparkContext).collectFirst {
      case b: StreamingQueryListenerBus if b.listeners.contains(probe) => b
    } finally session.streams.removeListener(probe)
    bus.foreach(session.sparkContext.removeSparkListener)
  }
}
