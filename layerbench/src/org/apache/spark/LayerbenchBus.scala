package org.apache.spark

/** Drain the application's listener bus. `listenerBus` is `private[spark]`,
  * hence this placement; the benchmark calls it before reading a pass's
  * listener totals, because events are delivered asynchronously.
  */
object LayerbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
