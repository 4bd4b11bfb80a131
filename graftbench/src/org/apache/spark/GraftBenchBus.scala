package org.apache.spark

/** Lives in Spark's package only to reach the listener bus's drain call,
  * which Spark keeps package-private. The traced run drains the bus after
  * every operation so each listener event is attributed to the operation
  * that caused it. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
