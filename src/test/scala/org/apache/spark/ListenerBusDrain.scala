package org.apache.spark

/** Test-scope access to the listener bus drain Spark keeps
  * package-private: block until every event posted so far has been
  * delivered to every listener, so a spec can assert on what its
  * listener saw without polling. Lives in Spark's package for that access
  * only.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
