package org.apache.spark

/** Spark delivers listener events asynchronously. The benchmark reads its
  * listener's counters right after an action returns, so it first waits
  * until the bus has delivered every event posted so far (`listenerBus` is
  * package-private, hence this file's package). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
