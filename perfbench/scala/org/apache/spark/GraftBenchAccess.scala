package org.apache.spark

/** The listener bus drains asynchronously; its wait-until-empty hook is
  * package-private, so the benchmark reaches it from this package.
  */
object GraftBenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
