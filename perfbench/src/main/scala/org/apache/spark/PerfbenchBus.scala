package org.apache.spark

/** Waits until every listener has seen every event posted so far. The
  * listener bus is `private[spark]`; the traced run drains it at round
  * and check boundaries so each event is counted in the round it belongs to.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
