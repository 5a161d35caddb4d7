package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * tracer's counters cover all work that finished before the call. The bus
  * is private to Spark, hence this one-method bridge in Spark's package.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
