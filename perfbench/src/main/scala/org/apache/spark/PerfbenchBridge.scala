package org.apache.spark

/** Accessor for Spark's package-private listener bus: the traced run
  * drains queued events before it reads what its listeners recorded.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
