package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus delivers scheduler events asynchronously; a spec's
  * event counts are complete only once the bus has drained. The drain
  * call is `private[spark]`, hence this package. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
