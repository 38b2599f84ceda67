package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the private listener bus: listener events are
  * delivered asynchronously, so a spec that counts jobs must drain the
  * bus after its action before reading the count.
  */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
