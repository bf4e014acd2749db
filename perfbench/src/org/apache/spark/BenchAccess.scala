package org.apache.spark

/** The one package-private hook the benchmark needs: waiting for the
  * listener bus to deliver every queued event. */
object BenchAccess {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
