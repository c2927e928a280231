package org.apache.spark

/** Access to the SparkContext's listener bus, which is private to Spark.
  * Draining it after an op means every event the op caused has reached
  * the benchmark's listeners before the next op starts, so events are
  * attributed to the right op. Used only in traced passes. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
