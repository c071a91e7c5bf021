package org.apache.spark

/** Blocks until every listener event posted so far has been delivered, so
  * a spec's listener has seen every stage of the actions it just ran.
  * Lives in `org.apache.spark` because the listener bus is package-private. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
