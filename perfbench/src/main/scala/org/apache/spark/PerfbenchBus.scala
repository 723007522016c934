package org.apache.spark

/** The listener bus drain is package-private to Spark; the tracer waits
  * on it between ops so every event lands on the op that caused it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
