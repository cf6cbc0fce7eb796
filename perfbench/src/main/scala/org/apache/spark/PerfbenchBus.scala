package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * traced run reads complete job, stage and task records. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
