package org.apache.spark

/** The listener bus drain is `private[spark]`; the traced run needs it so
  * that every event of an op has been delivered before the op's counters
  * are read.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
