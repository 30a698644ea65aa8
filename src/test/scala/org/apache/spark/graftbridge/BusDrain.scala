package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Waits until every event posted to the listener bus has been delivered,
  * so a test listener's counts are complete before they are read. The bus
  * is package-private to Spark, hence this helper's package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
