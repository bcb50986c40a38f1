package org.apache.spark

/** Test access to the context's private listener bus: block until
  * every event posted so far has reached its listeners, so a spec can
  * read a listener's counts without racing the bus thread. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
