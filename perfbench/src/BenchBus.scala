package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * traced metrics of a run are complete when they are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
