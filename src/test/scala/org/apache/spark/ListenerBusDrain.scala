package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * listener read after an action has seen that action's events. The bus
  * is Spark-private. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
