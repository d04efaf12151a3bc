package org.apache.spark

/** Access to the `private[spark]` listener bus: the benchmark drains it
  * after each timed call so that every listener event of the call is
  * counted before the next call starts. */
object PerfbenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
