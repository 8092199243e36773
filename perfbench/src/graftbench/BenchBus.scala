package org.apache.spark

/** The listener bus is package-private; the traced run needs to wait for
  * it before reading counts taken at a span boundary.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
