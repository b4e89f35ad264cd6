package org.apache.spark

/** The listener bus drain is `private[spark]`; the benchmark needs it so
  * that every listener event of a span has arrived before the span's
  * counters are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
