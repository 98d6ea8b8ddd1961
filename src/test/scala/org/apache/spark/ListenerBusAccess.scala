package org.apache.spark

/** Test-only bridge to the driver's listener bus, whose drain method is
  * package-private: specs that count plans through a
  * `QueryExecutionListener` must wait for the asynchronous delivery of
  * every event posted before they read their counters.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext, timeoutMillis: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
