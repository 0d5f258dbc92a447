package org.apache.spark.lakebench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; the traced run reads
 *  its listener only after every posted event has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
