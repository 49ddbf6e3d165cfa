package org.apache.spark

/** Drains Spark's asynchronous listener bus. `LiveListenerBus` is
  * `private[spark]`, so this accessor lives in Spark's package; the
  * benchmark calls it before reading any listener counter, so job, task
  * and micro-batch counts do not depend on how far the bus has got. */
object ListenerBusDrain {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
