package org.apache.spark

/** The one `private[spark]` call the benchmark needs: listener events are
  * delivered asynchronously, so the traced run waits for the bus to drain
  * before it reads what its listeners recorded. */
object PerfBenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
