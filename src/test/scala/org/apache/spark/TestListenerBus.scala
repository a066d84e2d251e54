package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * test's listener has seen every job it submitted. The bus is
  * package-private to Spark, hence this package.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
