package org.apache.spark

/** The two listener-bus facts the benchmark needs that Spark keeps
  * package-private: a deterministic drain (every event posted so far has
  * been delivered to every listener) and the number of events any queue
  * dropped. Lives in Spark's package for that access only.
  */
object BenchBusShim {

  /** Blocks until every queue of the live listener bus is empty. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Events dropped by all listener queues since the context started. */
  def eventsDropped(sc: SparkContext): Long = {
    val counters = sc.listenerBus.metrics.metricRegistry.getCounters
    var n = 0L
    counters.forEach((name, c) => if (name.endsWith("numDroppedEvents")) n += c.getCount)
    n
  }
}
