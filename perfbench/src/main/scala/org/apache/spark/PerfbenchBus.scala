package org.apache.spark

/** The listener bus's drain, which Spark keeps package-private. The traced
  * run calls it after every operation so that all of the operation's
  * events have reached the recorder before the next one starts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
