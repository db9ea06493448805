package org.apache.spark

/** The listener bus's drain is `private[spark]`; the benchmark's tracer
  * needs it to read complete counters at the end of a run.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
