package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous; the traced run drains it at every
  * phase boundary so each event is processed while the phase that
  * caused it is still the current one. The drain call is
  * package-private to Spark, hence this file's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
