package org.apache.spark

/** Bridge to the `private[spark]` listener bus: blocks until every event
  * posted so far has reached every listener, so code that counts jobs
  * through a SparkListener (ProfileProbe, the specs) reads a settled count
  * instead of sleeping and hoping. Fails with a TimeoutException after
  * `timeoutMs`. */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
