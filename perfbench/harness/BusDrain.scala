package org.apache.spark

/** Blocks until every listener event posted so far has been delivered, so
  * per-pass layer counters are complete when a pass is closed. Lives in
  * `org.apache.spark` because the listener bus is package-private. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
