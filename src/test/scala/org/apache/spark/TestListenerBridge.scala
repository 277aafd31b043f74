package org.apache.spark

/** Test access to the `private[spark]` listener bus, so a spec's listener has
  * seen every event before its counts are read. Lives in `org.apache.spark`
  * solely for access; nothing in Spark is modified.
  */
object TestListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
