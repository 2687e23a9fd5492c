package org.apache.spark

/** Waits until Spark's asynchronous listener bus has delivered every
  * event posted so far. The wait is `private[spark]`, hence this
  * package; reading listener counters without it attributes late events
  * to the next operation. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
