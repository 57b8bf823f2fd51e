package org.apache.spark

/** Waits until every event posted to the listener bus so far has been
  * delivered, so listener counts can be attributed to the operation that
  * just ended. The bus is `private[spark]`, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
