package org.apache.spark

/** The listener bus is private to Spark; the tracer needs to wait until
  * every event a step posted has been delivered before it closes the
  * step's span, so counters land on the span that caused them. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
