package org.apache.spark

/** The listener bus drain is `private[spark]`; the benchmark waits on it
  * (outside every timed region) so each query's listener totals are
  * complete before they are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
