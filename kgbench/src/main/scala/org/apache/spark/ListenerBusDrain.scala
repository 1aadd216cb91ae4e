package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * The listener bus is package-private; the benchmark reads its own
  * listener only after the bus has drained, so per-op totals are
  * complete when they are read. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
