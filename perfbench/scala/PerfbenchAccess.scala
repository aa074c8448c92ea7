package org.apache.spark

/** The listener bus's drain call is package-private; the ledger needs it
  * so that every task of a finished action is counted before it reads. */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
