package org.apache.spark

/** The listener bus is package-private; the harness waits for it to drain
  * before it reads listener rollups. */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
