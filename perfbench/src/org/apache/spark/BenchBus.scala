package org.apache.spark

/** The listener bus is `private[spark]`; the harness needs its drain so a
  * pass's stage totals are read only after every stage event arrived. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
