package org.apache.spark

/** The listener bus drain is Spark-private; the tracer needs it to know
  * that every event of an operation has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
