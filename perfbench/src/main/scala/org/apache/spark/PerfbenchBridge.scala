package org.apache.spark

/** The one `private[spark]` call the benchmark's tracer needs: waiting
  * until the listener bus has delivered every queued event, so counters
  * read after a run include all of its tasks. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
