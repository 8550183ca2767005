package org.apache.spark

/** The listener bus is `private[spark]`; the benchmark drains it after a
  * traced pass so every job, task and query-execution event of the pass
  * has been delivered before the pass's spans are assembled. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
