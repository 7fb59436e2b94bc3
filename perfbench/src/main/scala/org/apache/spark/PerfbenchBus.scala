package org.apache.spark

/** The listener bus is private to Spark; the trace needs to wait until
  * every posted event of a finished pass has been delivered before it
  * reads the pass's jobs, stages and tasks.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
