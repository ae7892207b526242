package org.apache.spark

/** The listener bus drain is private[spark]; the traced run needs it so
  * that every event of one query has been delivered before the next
  * query starts and the counters are attributed to it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
