package org.apache.spark

/** The listener bus is package-private; the benchmark waits on it so that
  * every event of a finished call has reached its listener before the
  * counts are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
