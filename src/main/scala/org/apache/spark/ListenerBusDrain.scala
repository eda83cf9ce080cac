package org.apache.spark

/** Spark's package-private listener bus drain: blocks until every event
  * posted so far reached every listener (QueryExecutionListeners too), so
  * a tool or spec reads what its listener saw without sleeping. Lives in
  * Spark's package for that access only.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
