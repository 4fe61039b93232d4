package org.apache.spark

/** The listener bus is private to Spark; the tracer waits on it so every
  * job, stage and task event has arrived before counters are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
