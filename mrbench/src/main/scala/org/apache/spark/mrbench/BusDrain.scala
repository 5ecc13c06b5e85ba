package org.apache.spark.mrbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so a
  * listener detached afterwards has seen the whole traced interval. The
  * bus is `private[spark]`, hence this package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
