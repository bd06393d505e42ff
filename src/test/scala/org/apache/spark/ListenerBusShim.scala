package org.apache.spark

/** Test access to the private listener bus: block until every event
  * posted so far reached the listeners, so a count read afterwards is
  * complete. */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
