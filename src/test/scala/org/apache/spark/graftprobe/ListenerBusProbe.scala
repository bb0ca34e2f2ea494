package org.apache.spark.graftprobe

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** Test-side access to the context's listener bus (`private[spark]`). */
object ListenerBusProbe {

  /** Blocks until every event posted so far has reached its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether a listener-reported stage writes a shuffle (`private[spark]`). */
  def isShuffleMap(stage: StageInfo): Boolean = stage.shuffleDepId.nonEmpty
}
