package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The one Spark-internal hook the tracer needs: listener events are
  * delivered asynchronously, so a span's counters are read only after
  * the bus has delivered every event posted before the span ended. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
