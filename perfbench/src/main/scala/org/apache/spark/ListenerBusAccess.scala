package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run
  * drains it before reading its counters so no op's tasks are missed.
  * `listenerBus` is package-private, hence this bridge. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
