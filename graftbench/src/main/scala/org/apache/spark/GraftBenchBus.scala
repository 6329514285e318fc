package org.apache.spark

/** Waits for the listener bus to deliver every posted event, so the
  * benchmark's listener has seen the last task of the last traced job
  * before its metrics are read. The bus is private to Spark. */
object GraftBenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
