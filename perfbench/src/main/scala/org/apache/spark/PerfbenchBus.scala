package org.apache.spark

/** The benchmark's one reach into Spark internals: block until every
  * queued listener event has been delivered, so a traced window's
  * jobs, stages and query events are all recorded before it is read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
