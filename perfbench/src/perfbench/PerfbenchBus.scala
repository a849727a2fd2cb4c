package org.apache.spark

/** Reaches the session's listener bus, which Spark keeps package-private,
  * so the benchmark can wait until its listeners have seen every event. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
