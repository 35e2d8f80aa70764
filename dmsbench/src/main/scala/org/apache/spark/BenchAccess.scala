package org.apache.spark

/** Lets the benchmark wait until every queued listener event is delivered,
  * so counters are complete before they are read.
  */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
