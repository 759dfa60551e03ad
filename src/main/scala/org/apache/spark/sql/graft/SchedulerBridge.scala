package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.local.LocalSchedulerBackend

/** Bridge to the `private[spark]` scheduler backend, under the
  * org.apache.spark package for access like [[PlanBridge]]. The resident
  * shard graphs (graft.hnsw.ResidentShards) size their slots to the
  * cores that run them, which only a local-mode context knows for good.
  */
object SchedulerBridge {

  /** The task slots of a local-mode context (`local[N]` gives N), or None
    * on a cluster, where cores come and go with executors.
    * `spark.default.parallelism` does not change it.
    */
  def localCores(sc: SparkContext): Option[Int] = sc.schedulerBackend match {
    case b: LocalSchedulerBackend => Some(b.totalCores)
    case _ => None
  }
}
