package org.apache.spark

/** The listener bus delivers events asynchronously; a traced pass waits
  * for it to drain before reading its spans. `listenerBus` is
  * package-private, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
