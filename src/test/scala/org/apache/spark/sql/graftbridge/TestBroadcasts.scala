package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkEnv
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.storage.BroadcastBlockId

/** The broadcasts a local session still holds. */
object TestBroadcasts {

  /** Ids of the live broadcasts whose value the driver's block manager
    * holds as a Catalyst array: the model literals of graft's kernels
    * (task binaries and join relations hold other types).
    */
  def liveArrays(): Set[Long] = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, "") => true
      case _ => false
    }.flatMap {
      case id @ BroadcastBlockId(bid, _) =>
        bm.memoryStore.getValues(id).flatMap(_.toSeq.headOption)
          .collect { case _: ArrayData => bid }
      case _ => None
    }.toSet
  }
}
