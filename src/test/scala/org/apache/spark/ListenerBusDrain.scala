package org.apache.spark

/** Blocks until every event posted so far has reached the listeners,
  * so a spec can assert that some job did NOT run. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
