package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * trace read after a timed unit holds all of that unit's jobs. The bus is
  * package-private to Spark, hence this file's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
