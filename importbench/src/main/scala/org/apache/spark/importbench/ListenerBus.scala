package org.apache.spark.importbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; the benchmark reads its job log
  * only after every posted event has been delivered. The bus is
  * Spark-private, hence this package. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
