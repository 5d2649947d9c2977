package org.apache.spark

/** The listener bus is Spark-private; the traced run drains it before
  * reading span totals so no task-end event is still in flight.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
