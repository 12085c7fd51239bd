package org.apache.spark

/** Test access to the listener bus (private to Spark): waits until every
  * event posted so far has been delivered, so a listener's counts are
  * complete before a spec reads them. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
