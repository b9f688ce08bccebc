package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark reads its listener's counters only after every event of the
  * timed call has been delivered. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
