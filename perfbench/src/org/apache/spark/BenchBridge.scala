package org.apache.spark

/** The one Spark-internal call the benchmark's tracer needs: block until the
  * listener bus has delivered every event posted so far, so work observed by
  * the listeners is attributed to the span that caused it.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
