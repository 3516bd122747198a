package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every queued listener event (jobs, stages, streaming
  * progress) has been delivered, so a pass's numbers are complete.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
