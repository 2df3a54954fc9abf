package org.apache.spark

/** Listener events arrive asynchronously; the traced report waits until the
  * bus has delivered every event of the run (the bus's drain is
  * package-private, hence this package).
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
