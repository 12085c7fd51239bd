package org.apache.spark

/** Access to the listener bus (private to Spark): waits until every event
  * posted so far has been delivered, so a listener's counts are complete
  * before a caller reads them — exact, where a sleep only hopes. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
