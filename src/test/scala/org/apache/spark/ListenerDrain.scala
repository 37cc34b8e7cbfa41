package org.apache.spark

/** Test-only bridge to the `private[spark]` listener bus: blocks until
  * every event posted so far has reached every listener, so a spec that
  * counts jobs through a SparkListener reads a settled count instead of
  * sleeping and hoping. Fails with a TimeoutException after `timeoutMs`. */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
