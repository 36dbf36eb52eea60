package org.apache.spark

/** Test access to the one engine-internal call the job-surface tests need:
  * wait until the listener bus has delivered every posted event. */
object ListenerShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
