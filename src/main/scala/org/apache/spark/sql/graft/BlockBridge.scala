package org.apache.spark.sql.graft

import org.apache.spark.SparkEnv
import org.apache.spark.storage.BroadcastBlockId

/** Bridge to the `private[spark]` block manager, under the
  * org.apache.spark package for access like [[PlanBridge]]. The resident
  * shard registry (graft.hnsw.ShardRegistry) reads an index's liveness
  * from whether this JVM still holds the index's token broadcast: Spark's
  * ContextCleaner removes it from every executor once the driver drops
  * the index.
  */
object BlockBridge {

  /** Whether this JVM's block manager holds broadcast `id`. */
  def holdsBroadcast(id: Long): Boolean =
    Option(SparkEnv.get).exists(_.blockManager.getStatus(BroadcastBlockId(id)).isDefined)
}
