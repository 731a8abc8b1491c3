package org.apache.spark

/** Waits until every listener has seen every event posted so far, so a
  * traced pass is summarised only after its last task and query events
  * have arrived.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
