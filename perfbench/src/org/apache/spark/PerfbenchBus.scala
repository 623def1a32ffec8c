package org.apache.spark

/** The listener bus drain is package-private to Spark; the benchmark needs it
  * so that every task of a finished unit is counted before it reads its listener. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
