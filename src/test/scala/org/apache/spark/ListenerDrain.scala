package org.apache.spark

/** Block until every event posted so far has reached the listeners, so a
  * job count taken right after an action is complete. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
