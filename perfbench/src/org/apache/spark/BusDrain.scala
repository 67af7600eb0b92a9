package org.apache.spark

/** Waits until every queued listener event has been delivered. The listener
  * bus is asynchronous, so counters read right after an action would miss
  * the tail of its task-end events; `listenerBus` is package-private, hence
  * this one-line bridge in Spark's own package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
