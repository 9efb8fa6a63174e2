package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus access for the trace: events are delivered
  * asynchronously, so a span's metrics are read only after the bus has
  * drained. `SparkContext.listenerBus` is package-private to Spark,
  * hence this one-line bridge inside Spark's package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
