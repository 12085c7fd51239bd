package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * a run's job, plan and batch records are complete before it reports. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
