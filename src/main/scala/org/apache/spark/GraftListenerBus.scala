package org.apache.spark

/** Access to the private[spark] listener bus: listeners and the status
  * tracker are fed asynchronously, so a job that just finished may not be
  * counted, or visible to `getJobIdsForGroup`, yet. Draining the bus first
  * makes `graft.Bench`'s per-query counters and the specs' job counts
  * deterministic.
  */
object GraftListenerBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
