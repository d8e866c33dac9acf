package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * tracer's per-query counters are complete when they are read. The bus
  * is `private[spark]`, hence this package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
