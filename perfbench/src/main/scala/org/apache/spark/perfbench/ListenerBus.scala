package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; the traced run waits for
  * the bus to empty before it detaches its listeners or reads what they
  * recorded. The bus is `private[spark]`, hence this package.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
