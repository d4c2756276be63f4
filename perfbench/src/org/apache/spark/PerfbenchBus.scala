package org.apache.spark

/** The one engine-private call the harness needs: block until every event
  * posted so far reached the listeners, so span totals are complete. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
