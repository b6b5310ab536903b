package org.apache.spark.sql.graftx

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; a harness that counts events must
  * wait until the bus has delivered every event of the work it measured.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
