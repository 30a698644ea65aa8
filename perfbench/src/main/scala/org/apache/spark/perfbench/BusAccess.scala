package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event posted to the listener bus has been delivered,
  * so listener-side counts are complete before they are read. The bus is
  * package-private to Spark, hence this accessor's package.
  */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
