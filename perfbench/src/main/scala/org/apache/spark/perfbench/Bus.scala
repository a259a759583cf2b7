package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus drain. Spark delivers listener events asynchronously; the
  * benchmark reads its counters only after every event of a measured window
  * has been delivered. `listenerBus` is package-private to `org.apache.spark`,
  * hence this one-line accessor lives here. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
