package org.apache.spark.etlbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached every listener.
  * The bus is private to Spark, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
