package org.apache.spark

/** private[spark] access shim (same pattern as GraftSqlBridge): lets the
  * profiling tools drain queued listener events before reading counters.
  */
object GraftListenerBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
