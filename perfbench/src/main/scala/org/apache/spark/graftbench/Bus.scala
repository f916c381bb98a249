package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; the benchmark drains the
  * bus at each span boundary so every event of a span has arrived before
  * the span's figures are read. `listenerBus` is Spark-private, hence the
  * package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
