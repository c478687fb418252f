package org.apache.spark

/** Blocks until the listener bus has delivered every queued event, so
  * that listener counts read afterwards cover every finished job. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
