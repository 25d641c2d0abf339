package org.apache.spark

/** Waits until every listener has seen every event posted so far, so
  * counters read after an op belong to that op. The listener bus is
  * `private[spark]`, hence this one-line bridge in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
