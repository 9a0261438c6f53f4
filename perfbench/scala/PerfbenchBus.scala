package org.apache.spark

/** The listener bus's flush is package-private to Spark; the benchmark
  * needs it so a traced run aggregates only after every event arrived. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
