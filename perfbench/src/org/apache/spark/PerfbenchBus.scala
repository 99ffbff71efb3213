package org.apache.spark

/** Waits until every listener-bus queue has delivered the events posted
  * so far. Listener events are asynchronous; the traced run reads its
  * counters only after this returns. `waitUntilEmpty` is spark-private,
  * hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
