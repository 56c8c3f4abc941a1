package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Bridge to `private[spark] SparkContext.listenerBus`. Listener events are
  * delivered asynchronously, so a listener removed right after an action
  * can miss that action's last events; draining the bus first delivers
  * everything posted so far (or times out after 10 s).
  */
object ListenerBusBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
