package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's counters are complete when an operation is read off.
  * Lives in this package because the listener bus is Spark-private.
  */
object PerfbenchDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
