package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * spec's listener counts are complete before it reads them. Lives in
  * Spark's package because the bus is package-private.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
