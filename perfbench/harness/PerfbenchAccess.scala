package org.apache.spark

/** Waits for Spark's listener bus to deliver every event posted so
  * far, so a traced pass's counters are complete before they are read.
  */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
