package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so a
  * spec's listener has seen every job it ran. The bus is
  * Spark-internal, hence this package.
  */
object Listeners {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
