package org.apache.spark

/** Waits until every listener has seen every event posted so far. Spark
  * keeps its listener bus package-private; the traced run needs the drain so
  * that stage metrics are complete before they are attributed to spans. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
