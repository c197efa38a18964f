package org.apache.spark

/** The listener bus is package-private in Spark; a benchmark that
  * reads listener counters after a timed section must wait for it to
  * deliver the tail events first. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
