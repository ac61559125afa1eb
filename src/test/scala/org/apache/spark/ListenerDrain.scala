package org.apache.spark

/** Wait until every posted listener event has been delivered, so a
  * spec's counting listener has seen all jobs of the action it just
  * ran.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
