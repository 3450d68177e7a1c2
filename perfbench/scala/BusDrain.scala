package org.apache.spark.graftperf

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; the traced run drains
  * the bus after each query so its counters belong to that query. The
  * bus is private to the `org.apache.spark` package, hence this file.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
