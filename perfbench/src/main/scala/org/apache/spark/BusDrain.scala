package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * a pass's counters are complete before the runner reads them. The bus
  * is package-private to Spark; Spark's own test suites drain it the same
  * way. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
