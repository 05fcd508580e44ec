package org.apache.spark

/** The listener bus is private to Spark; the traced run drains it at
  * every span end so that each event is attributed to the span that
  * caused it. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
