package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; a traced op is closed only after
  * the bus has delivered everything it caused. `waitUntilEmpty` is
  * private[spark], hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
