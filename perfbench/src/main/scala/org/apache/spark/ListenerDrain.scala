package org.apache.spark

/** Blocks until every event posted so far has reached the listeners, so
  * counters read after a span belong to that span. The bus is
  * package-private, hence this file's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
