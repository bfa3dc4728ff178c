package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the (`private[spark]`) listener bus: listener events
  * are delivered asynchronously, so a test that sums listener metrics
  * must wait for the bus to drain before reading them. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
