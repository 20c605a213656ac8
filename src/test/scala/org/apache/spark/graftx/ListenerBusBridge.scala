package org.apache.spark.graftx

import org.apache.spark.SparkContext

/** Test access to the listener bus (private[spark]): a listener's
  * counts are complete only once the bus has delivered every event
  * posted so far.
  */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
