package org.apache.spark

/** The one engine-internal hook the benchmark needs: waiting until the
  * asynchronous listener bus has delivered every posted event, so the
  * traced run's listener totals are complete when they are read. */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
