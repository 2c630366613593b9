package org.apache.spark

/** The listener bus drain is `private[spark]`; the benchmark needs it to
  * read a complete trace after each traced op.
  */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
