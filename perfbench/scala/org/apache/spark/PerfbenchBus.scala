package org.apache.spark

/** The listener bus drain is package-private to Spark; the benchmark needs
  * it so that its listener totals are complete before it reads them.
  */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
