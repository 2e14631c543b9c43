package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark reads its
  * listener's counters only after every event of the measured calls has been
  * delivered. `waitUntilEmpty` is package-private to Spark, hence this shim. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
