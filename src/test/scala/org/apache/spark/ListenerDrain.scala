package org.apache.spark

/** Test bridge to the listener bus: block until every posted event has
  * reached the registered listeners, so a spec can count jobs exactly.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
