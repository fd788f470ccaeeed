package org.apache.spark

/** Blocks until every event posted so far has reached the listeners — the
  * drain is `private[spark]`, so the bench timer and specs reach it through
  * this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
