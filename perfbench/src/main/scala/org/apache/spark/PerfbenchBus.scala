package org.apache.spark

/** Lets the harness wait until every posted listener event has been
  * delivered, so counters read after an action are complete. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
