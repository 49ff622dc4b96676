package org.apache.spark

/** Reaches the `private[spark]` listener-bus drain so the benchmark can
  * read listener counts only after every posted event was delivered. */
object PerfbenchBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
