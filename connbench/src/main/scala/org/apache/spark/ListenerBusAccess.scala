package org.apache.spark

/** The listener bus is private to Spark; the benchmark waits for it to
  * drain after each operation so per-operation listener counters are
  * complete before they are read. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
