package org.apache.spark

/** Access to the `private[spark]` listener bus, so a test can wait until
  * every event of the jobs it ran has reached its listeners. */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
