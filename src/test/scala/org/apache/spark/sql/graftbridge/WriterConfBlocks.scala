package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkEnv
import org.apache.spark.storage.BroadcastBlockId
import org.apache.spark.util.SerializableConfiguration

/** Test probe into the driver's block manager (private[spark]): the
  * broadcast variables it holds whose value is a lake writer's Hadoop
  * conf, told apart from a scan's conf broadcast by the writer's own
  * local filesystem ([[LakeWriteBridge.prepare]]).
  */
object WriterConfBlocks {
  def ids(): Set[Long] = {
    val bm = SparkEnv.get.blockManager
    val writerFs = classOf[graft.streaming.NioLocalFs].getName
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, "") => true
      case _ => false
    }.flatMap { id =>
      // a block removed since the listing reads as absent
      bm.getLocalValues(id).flatMap { r =>
        val v = try r.data.next() finally bm.releaseLock(id)
        v match {
          case c: SerializableConfiguration if c.value.get("fs.file.impl") == writerFs =>
            Some(id.asInstanceOf[BroadcastBlockId].broadcastId)
          case _ => None
        }
      }
    }.toSet
  }
}
