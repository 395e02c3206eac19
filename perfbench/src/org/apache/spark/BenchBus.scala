package org.apache.spark

/** `LiveListenerBus.waitUntilEmpty` is `private[spark]`. Listener events
  * arrive asynchronously, so the benchmark drains the bus after each action
  * before it reads what its listener attributed to a span or a pass. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
