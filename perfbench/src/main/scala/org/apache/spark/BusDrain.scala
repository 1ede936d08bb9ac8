package org.apache.spark

/** Blocks until Spark's listener bus has delivered every queued event,
  * so a roll-up read afterwards sees all completed records. The bus is
  * package-private to Spark, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
