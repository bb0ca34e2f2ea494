package org.apache.spark.graftprobe

import org.apache.spark.SparkContext

/** Test-side access to the context's listener bus (`private[spark]`). */
object ListenerBusProbe {

  /** Blocks until every event posted so far has reached its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
