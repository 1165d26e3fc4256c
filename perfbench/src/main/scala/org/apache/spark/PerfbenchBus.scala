package org.apache.spark

/** Blocks until every event posted so far has reached every listener. The
  * bus is private to Spark; this is the one call the benchmark needs from
  * it, made once when a run ends, so that per-span counters are complete
  * before they are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
