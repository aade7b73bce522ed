package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; the tracer closes a pass
  * only after every event of that pass has reached its listener.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
