package org.apache.spark

/** The listener bus's drain call is package-private; specs that count
  * jobs with a listener need it so that every event of a finished action
  * has been delivered before they read. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
