package org.apache.spark.graftprobe

import org.apache.spark.SparkEnv
import org.apache.spark.storage.BroadcastBlockId

/** Test-side view of the driver's block manager (`private[spark]`): the
  * broadcasts whose value is still held there.
  */
object BroadcastProbe {

  /** Ids of the broadcasts whose driver-side value satisfies `p`. */
  def live(p: Any => Boolean): Set[Long] = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, "") => true
      case _ => false
    }.flatMap { b =>
      // reading the values to the end releases the block's read lock
      bm.getLocalValues(b).map(_.data.toList).filter(_.exists(p))
        .map(_ => b.asInstanceOf[BroadcastBlockId].broadcastId)
    }.toSet
  }
}
