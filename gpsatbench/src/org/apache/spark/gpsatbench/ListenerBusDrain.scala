package org.apache.spark.gpsatbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; the listener bus's drain call is
  * package-private to Spark, so this one-line bridge lives in its package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
