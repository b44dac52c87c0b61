package org.apache.spark

/** Test access to the listener bus, whose drain is package-private:
  * a listener's counts are complete only once every posted event has
  * been delivered. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
