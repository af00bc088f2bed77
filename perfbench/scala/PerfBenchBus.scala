package org.apache.spark

/** The listener bus's drain is `private[spark]`; the benchmark needs it
  * to read its listeners' counters at a phase boundary. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
