package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the benchmark reads its counters only after every queued event has
  * reached its listener.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
