package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one call into `private[spark]` surface the harness needs: wait
  * until every queued listener event has been delivered, so the job,
  * task and stream-progress records are complete before they are read. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
