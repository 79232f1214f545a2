package org.apache.spark

/** Test access to the `private[spark]` listener bus: block until every
  * posted event has reached the listeners, so a count read afterwards
  * covers all jobs that have already started. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
