package org.apache.spark

/** Waits until every listener event posted so far has been delivered. The
  * bus has no public flush; this object sits in Spark's package to reach it. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
