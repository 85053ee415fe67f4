package org.apache.spark

/** Test-only bridge to the `private[spark]` listener bus: blocks until
  * every event posted so far has reached every listener, so a spec can
  * read a listener's counters without sleeping.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
