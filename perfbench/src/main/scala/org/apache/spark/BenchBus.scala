package org.apache.spark

/** Listener-bus access the public API does not offer: wait until every event
  * posted so far has reached the listeners, so a pass's records are complete
  * before its listeners are detached. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
