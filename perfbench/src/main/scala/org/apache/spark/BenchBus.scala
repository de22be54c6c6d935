package org.apache.spark

/** The listener bus is private to Spark; the traced benchmark drains it
  * so that counters read after a call include every event the call
  * posted.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
