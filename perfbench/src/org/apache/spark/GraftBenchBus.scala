package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * benchmark's listener counts are complete when it reads them. The bus
  * is `private[spark]`, hence this package. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
