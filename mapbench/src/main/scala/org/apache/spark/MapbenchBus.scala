package org.apache.spark

/** Waits until every listener has seen every event posted so far, so the
  * span counters are complete before they are read. The listener bus is
  * package-private to Spark, hence this one-line bridge. */
object MapbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
