package org.apache.spark.pipebenchbridge

import org.apache.spark.SparkContext

/** The one Spark-internal call the tracer needs: block until the
  * listener bus has delivered every event posted so far, so per-span
  * counters are complete before they are read. */
object SparkBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
