package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the ledger reads its tallies only after every event has arrived.
  */
object GraftBenchBridge {
  def drainListeners(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
