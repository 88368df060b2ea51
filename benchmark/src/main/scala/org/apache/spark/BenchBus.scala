package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so a
  * traced operation's Spark-side counters are complete when it is read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
