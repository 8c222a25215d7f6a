package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark
  * needs it so per-phase counters are complete before they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
