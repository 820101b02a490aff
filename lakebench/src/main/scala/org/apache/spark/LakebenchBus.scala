package org.apache.spark

/** Waits for the listener bus to deliver every posted event, so counters
  * read after a traced loop are complete. Lives in Spark's package because
  * `listenerBus` is package-private. */
object LakebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
