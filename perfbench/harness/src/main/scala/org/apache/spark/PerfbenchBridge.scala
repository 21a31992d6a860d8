package org.apache.spark

/** Access to the one scheduler hook the benchmark's tracer needs:
  * waiting until every posted listener event has been delivered, which
  * `SparkContext` keeps package-private. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
