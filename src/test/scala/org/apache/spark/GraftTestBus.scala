package org.apache.spark

/** Access shim: the listener bus is `private[spark]`. Draining it makes
  * every event posted so far visible to a spec's listener before the
  * spec reads what it counted. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
