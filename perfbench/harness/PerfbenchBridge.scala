package org.apache.spark

/** Access to the listener bus, which is private to the spark package:
  * the traced run reads its spans only after every event is delivered.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
