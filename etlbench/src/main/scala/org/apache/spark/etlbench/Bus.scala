package org.apache.spark.etlbench

import org.apache.spark.SparkContext

/** Listener-bus access the public API does not offer. */
object Bus {
  /** Blocks until every event posted so far reached every listener. */
  def drain(sc: SparkContext, timeoutMs: Long = 30000): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
