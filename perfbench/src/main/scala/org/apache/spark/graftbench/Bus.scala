package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access shim: the listener bus is `private[spark]`. Draining it makes
  * every event posted so far visible to the benchmark's listeners
  * before their state is read, instead of sleeping and hoping. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
