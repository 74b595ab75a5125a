package org.apache.spark

/** Test access to the driver's listener bus: returns once every event
  * posted so far has reached its listeners, so a spec can read a
  * listener's counts right after the actions it ran.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
