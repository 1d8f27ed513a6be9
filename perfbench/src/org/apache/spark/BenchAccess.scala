package org.apache.spark

/** The one Spark-internal call the tracer needs: wait until every listener
  * event posted so far has been delivered, so a span's metrics are complete
  * when the span closes.
  */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
