package org.apache.spark

/** The one engine-internal call the benchmark needs: wait until the listener
  * bus has delivered every event, so per-op engine metrics are complete. */
object BenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
