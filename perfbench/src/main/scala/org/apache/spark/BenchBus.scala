package org.apache.spark

/** The listener bus is drained through a package-private call; the
  * benchmark's counters read it at span boundaries so that every event a
  * span caused has been counted before the span closes. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
