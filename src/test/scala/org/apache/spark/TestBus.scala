package org.apache.spark

/** The listener bus's drain is private to Spark; job-counting tests
  * need it so that a listener has seen every job before they read it.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
