package org.apache.spark

/** The listener bus drain is `private[spark]`; the traced run needs it
  * so that every event of one operation is seen before the next starts.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
