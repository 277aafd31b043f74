package org.apache.spark

/** Access to the `private[spark]` listener bus, so the benchmark's listener
  * has seen every event before its counts are read. Lives in
  * `org.apache.spark` solely for access; nothing in Spark is modified.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
