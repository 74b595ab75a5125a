package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run drains
  * it before reading a pass's counters so no job of the pass is missed.
  */
object BenchBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
