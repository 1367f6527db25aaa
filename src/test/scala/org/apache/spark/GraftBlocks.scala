package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId

/** Test-side view of the driver's broadcast blocks. BlockManager and its
  * memory store are `private[spark]`; this bridge reads them the way
  * `org.apache.spark.sql.GraftBridge` reaches `private[sql]` plumbing. */
object GraftBlocks {

  /** Ids above `after` for which the driver still holds broadcast blocks,
    * leaving out stage task binaries (a `Array[Byte]` value) — i.e. the
    * broadcasts user code created since `after` and has not released. */
  def heldBroadcastsAfter(sc: SparkContext, after: Long): Set[Long] = {
    val bm = sc.env.blockManager
    val held = bm.getMatchingBlockIds {
      case BroadcastBlockId(id, _) => id > after
      case _ => false
    }.collect { case BroadcastBlockId(id, _) => id }.toSet
    held.filterNot { id =>
      val value = scala.util.Try(bm.memoryStore.getValues(BroadcastBlockId(id)))
        .toOption.flatten.flatMap(it => if (it.hasNext) Some(it.next()) else None)
      value.exists(_.isInstanceOf[Array[Byte]])
    }
  }
}
