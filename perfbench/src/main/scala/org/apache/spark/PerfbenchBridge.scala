package org.apache.spark

/** Reaches the listener bus, which Spark keeps package-private, so the
  * benchmark can attribute listener events to the call that caused them.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
