package org.apache.spark

/** Lets the benchmark wait until its listeners have seen every event
  * posted so far (the listener bus is package-private). */
object SinkbenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
