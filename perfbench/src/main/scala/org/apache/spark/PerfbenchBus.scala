package org.apache.spark

/** The listener bus is private to Spark; the benchmark waits for it to drain
  * so that task metrics read after a pass include every task of that pass. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
