package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's job counts are complete when it reads them. The bus is
  * package-private to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
