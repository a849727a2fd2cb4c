package org.apache.spark

/** Reaches the session's listener bus, which Spark keeps package-private,
  * so a spec can wait until its listeners have seen every event posted. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
