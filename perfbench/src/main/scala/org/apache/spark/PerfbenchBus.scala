package org.apache.spark

/** Listener events are delivered asynchronously; the benchmark reads its
  * listeners only after the bus has delivered everything posted so far.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
