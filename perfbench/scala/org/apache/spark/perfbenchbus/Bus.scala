package org.apache.spark.perfbenchbus

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so a
  * benchmark listener's numbers are complete when read. The bus is
  * `private[spark]`, hence this package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
