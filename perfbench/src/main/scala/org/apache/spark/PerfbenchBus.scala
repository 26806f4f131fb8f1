package org.apache.spark

/** `SparkContext.listenerBus` is `private[spark]`; the benchmark needs
  * its drain barrier so listener counts are complete before they are
  * read. */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
