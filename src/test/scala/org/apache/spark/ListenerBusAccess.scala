package org.apache.spark

/** Lets a spec wait until every queued listener event is delivered, so a
  * listener's counts are complete before they are read.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
