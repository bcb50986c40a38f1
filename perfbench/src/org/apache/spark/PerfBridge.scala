package org.apache.spark

/** The one private-to-Spark call the benchmark needs: wait until every
  * posted listener event has been handled, so a measurement window's
  * counters are complete before they are read. */
object PerfBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
