package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * span's counters are complete when it closes. The bus is Spark-internal
  * (`private[spark]`), hence this one-line bridge in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
