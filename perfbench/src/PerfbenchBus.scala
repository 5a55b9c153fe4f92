package org.apache.spark

/** Waits until every listener has seen every event posted so far, so
  * the benchmark reads complete trigger progress and task metrics. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
