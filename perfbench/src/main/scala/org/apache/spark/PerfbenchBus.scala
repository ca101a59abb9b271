package org.apache.spark

/** The listener bus drain is `private[spark]`; the benchmark needs it to
  * read its listeners' counters only after every event has arrived. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
