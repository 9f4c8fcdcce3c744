package org.apache.spark.perfbench

/** Waits until the listener bus has delivered every posted event, so the
  * traced run reads complete job, task and query totals. The bus is
  * private to Spark, hence this package.
  */
object BusDrain {
  def apply(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
