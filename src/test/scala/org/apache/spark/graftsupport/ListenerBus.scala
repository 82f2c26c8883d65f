package org.apache.spark.graftsupport

import org.apache.spark.SparkContext

/** Test access to the `private[spark]` listener-bus drain: after it returns,
  * every event posted so far has reached the listeners. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
