package org.apache.spark

/** The listener bus is `private[spark]`; the traced run drains it after
  * each operation so the job/stage/task events of that operation are
  * delivered before its spans are closed. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
