package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * span's counters are complete when it is closed. (`listenerBus` is
  * package-private to Spark.) */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
