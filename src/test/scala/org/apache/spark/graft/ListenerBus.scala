package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the listener bus, which is `private[spark]`. */
object ListenerBus {
  /** Blocks until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
