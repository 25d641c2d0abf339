package org.apache.spark

/** Waits until every listener has seen every event posted so far, so a
  * count read after an action belongs to that action. The listener bus
  * is `private[spark]`, hence this one-line bridge in Spark's package.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
