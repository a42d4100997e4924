package org.apache.spark

/** The one Spark-internal call the tracer needs: block until the
  * listener bus has delivered every event posted so far, so span
  * counters are complete before they are read. */
object SparkInternals {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
