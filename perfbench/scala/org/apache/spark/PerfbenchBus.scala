package org.apache.spark

/** The listener bus is private to Spark; the benchmark's tracer needs to
  * wait until it has delivered every event before reading its counts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
