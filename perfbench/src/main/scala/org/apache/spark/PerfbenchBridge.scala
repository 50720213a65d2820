package org.apache.spark

/** Re-exports the one package-private call the benchmark needs: waiting
  * until the listener bus has delivered every event, so that the trace of
  * an operation is complete before it is summarised. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
