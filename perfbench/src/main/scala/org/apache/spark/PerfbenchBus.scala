package org.apache.spark

/** The listener bus's drain is private to Spark; the benchmark needs it
  * so that per-group counts are complete when it reads them.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
