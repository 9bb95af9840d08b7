package org.apache.spark

/** The listener bus's drain is package-private to Spark; profilers need it
  * so listener totals are complete before they are read. */
object GraftSparkAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
