package org.apache.spark

/** Blocks until the listener bus has delivered every queued event, so
  * the benchmark's listener has seen all jobs before it is read. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
