package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * job counts read from the status tracker are complete. Lives in
  * Spark's package because `listenerBus` is package-private. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
