package org.apache.spark

/** The one Spark internal the benchmark needs: draining the listener bus,
  * so counters read at the end of a span include every event of its jobs. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
