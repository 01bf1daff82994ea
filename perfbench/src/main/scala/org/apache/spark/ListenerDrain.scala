package org.apache.spark

/** Waits until every posted listener event has been delivered, so counters
  * read after an action include that action. The bus is Spark-private. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
