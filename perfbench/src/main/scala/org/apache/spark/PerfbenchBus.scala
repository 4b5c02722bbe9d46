package org.apache.spark

/** Lets the benchmark's traced run read its listener's counters only
  * after every scheduler event posted so far has been delivered (the
  * listener bus is asynchronous; `waitUntilEmpty` is `private[spark]`). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
