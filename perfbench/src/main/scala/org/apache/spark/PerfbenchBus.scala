package org.apache.spark

/** The listener bus's flush is private to Spark; the tracer needs it so a
  * span's jobs and tasks are all counted before the span is read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
