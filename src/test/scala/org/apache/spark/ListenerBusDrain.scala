package org.apache.spark

/** Test access to the listener bus drain, so a listener's counts are
  * final when an assertion reads them.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
