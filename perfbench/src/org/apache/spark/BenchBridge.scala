package org.apache.spark

/** The benchmark's one reach into Spark internals: wait until every
  * queued listener event has been delivered, so the counters read after
  * a run are complete.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
