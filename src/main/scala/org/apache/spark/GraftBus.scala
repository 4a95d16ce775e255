package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * after `drain` every event posted so far has reached the listeners. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
