package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * The traced run drains after every step, so each listener event is
  * attributed to the step that caused it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
