package org.apache.spark

/** The live listener bus is `private[spark]`; this shim exposes its one
  * drain so listeners outside Spark ([[graft.obs.EntryMetrics]]) can read
  * a finished action's events without guessing how long delivery takes. */
object ListenerBusDrain {
  /** Blocks until every event posted so far has reached every listener. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
