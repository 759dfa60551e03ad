package graft.hnsw

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graft.{PlanBridge, TopKBuffer}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}

/** The resident shard search of one broadcast query chunk, run from the
  * driver: one single-stage job of one task per slot
  * ([[ResidentShards.slots]]), each returning its per-query top-k
  * buffers, which the driver merges as they arrive with the same heap,
  * (dist asc, id asc) order and duplicate-id collapse as the `TopKByDist`
  * aggregate. The merged result holds at most `queries · k` rows, no
  * more than the chunk the driver already holds.
  */
private[graft] final class ChunkSearch(search: ShardSearchRDD, val queries: Int, val k: Int,
                                       val slots: Int) {

  /** The chunk's (qid, rank, id, dist) rows, ordered by qid and rank. */
  def run(): Array[InternalRow] =
    if (queries == 0) Array.empty
    else {
      val merged = mutable.LongMap.empty[TopKBuffer]
      // result handlers run one at a time (the job waiter serializes them)
      search.sparkContext.runJob(search, (it: Iterator[(Long, TopKBuffer)]) => it.toArray,
        (_: Int, tops: Array[(Long, TopKBuffer)]) => tops.foreach { case (qid, top) =>
          merged.get(qid) match {
            case Some(m) => m.mergeFrom(top)
            case None => merged(qid) = top
          }
        })
      val unsafe = UnsafeProjection.create(HnswShardSearch.types)
      merged.keys.toArray.sorted.flatMap { qid =>
        merged(qid).sorted.iterator.zipWithIndex.map { case ((dist, id), i) =>
          unsafe(InternalRow(qid, i + 1, id, dist)).copy(): InternalRow
        }
      }
    }

  override def toString: String = s"queries=$queries, k=$k, slots=$slots"
}

/** Logical leaf of a broadcast-chunk shard search, output (qid, rank,
  * id, dist). Building it runs no Spark job: the search runs when a plan
  * over it executes ([[HnswShardSearchExec]]).
  */
private[graft] final case class HnswShardSearch(output: Seq[Attribute], search: ChunkSearch)
    extends LeafNode with MultiInstanceRelation {

  override def maxRows: Option[Long] = Some(search.queries.toLong * search.k)

  override def computeStats(): Statistics = {
    val rows = maxRows.get
    Statistics(sizeInBytes = BigInt(rows) * HnswShardSearch.RowBytes, rowCount = Some(BigInt(rows)))
  }

  override def newInstance(): LogicalPlan = copy(output = output.map(_.newInstance()))
}

/** Physical form of [[HnswShardSearch]], shown as `Scan HnswShardSearch`.
  * `collect` gets the driver-merged rows directly; any other consumer (a
  * join, a write, a count) reads them as a parallelized RDD. The search
  * handle is driver-only: closures capture the merged rows, never it.
  */
private[graft] final case class HnswShardSearchExec(output: Seq[Attribute], @transient search: ChunkSearch)
    extends LeafExecNode {

  override def nodeName: String = s"Scan ${Hnsw.ShardSearchName}"

  @transient private lazy val rows: Array[InternalRow] = search.run()

  override def executeCollect(): Array[InternalRow] = rows
  override def executeTake(n: Int): Array[InternalRow] = rows.take(n)

  override protected def doExecute(): RDD[InternalRow] = {
    val rs = rows
    sparkContext.parallelize(ArraySeq.unsafeWrapArray(rs), math.max(1, math.min(rs.length, search.slots)))
  }
}

/** Plans [[HnswShardSearch]] leaves. Sessions built with
  * [[graft.GraftExtensions]] carry it; [[setup]] adds it to any other
  * session.
  */
private[graft] object HnswShardSearchStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s: HnswShardSearch => HnswShardSearchExec(s.output, s.search) :: Nil
    case _ => Nil
  }

  /** Adds the strategy to `session` unless its planner already has it. */
  def setup(session: SparkSession): Unit = synchronized {
    if (!session.sessionState.planner.strategies.contains(this)) {
      session.experimental.extraStrategies = this +: session.experimental.extraStrategies
    }
  }
}

private[graft] object HnswShardSearch {
  private[hnsw] val types: Array[DataType] = Array(LongType, IntegerType, LongType, DoubleType)
  /** An unsafe row of four fixed-width fields: null bits and 4 words. */
  private val RowBytes = 40

  /** Frame over a new leaf for `search`, on `session`. */
  def frame(session: SparkSession, search: ChunkSearch): DataFrame = {
    HnswShardSearchStrategy.setup(session)
    val output = Seq("qid", "rank", "id", "dist").zip(types).map { case (name, t) =>
      AttributeReference(name, t, nullable = false)()
    }
    PlanBridge.ofRows(session, HnswShardSearch(output, search))
  }
}
