package org.apache.spark

/** Waits until the context's listener bus has delivered every event
  * posted so far. `listenerBus` is `private[spark]`, hence this package;
  * [[graft.Census]] drains before it hands out a window's events,
  * because events are delivered asynchronously.
  */
object CensusBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
