package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; a spec that counts them reads
  * its counts only after every posted event has been delivered. The bus
  * is Spark-private, hence this package. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
