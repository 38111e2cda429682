package org.apache.spark

/** The benchmark reads listener counts right after the work that caused
  * them; the listener bus delivers asynchronously, so it first waits for
  * the bus to empty (a Spark-internal call, hence this package). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
