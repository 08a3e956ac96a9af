package org.apache.spark

/** The listener bus is package-private; the traced run must read its
  * counters only after every task event of a layer has been delivered.
  */
object KgBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
