package org.apache.spark

/** The traced run reads listener totals at operation boundaries, so it
  * must wait until the asynchronous listener bus has delivered every
  * event of the finished operation; `listenerBus` is package-private.
  */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
