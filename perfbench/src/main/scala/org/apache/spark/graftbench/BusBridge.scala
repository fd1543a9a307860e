package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; the harness drains the
  * bus once, after its timed loop, before it reads what its listener
  * recorded. `listenerBus` is `private[spark]`, hence this package. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
