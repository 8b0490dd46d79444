package org.apache.spark

/** Blocks until every queued listener event has been delivered, so a
  * listener can be read or detached without losing the events of jobs
  * that have already returned. Lives in this package because the
  * listener bus is `private[spark]`. */
object PerfbenchBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
