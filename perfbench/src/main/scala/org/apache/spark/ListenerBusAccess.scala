package org.apache.spark

/** The listener bus delivers events asynchronously; per-operation
  * counters are only complete once it has drained. `listenerBus` is
  * package-private to Spark, hence this one-line bridge.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
