package org.apache.spark

/** The one private Spark call the traced run needs: block until every
  * listener event posted so far has been delivered, so an operation's jobs,
  * stages and tasks are all recorded before the next operation starts. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
