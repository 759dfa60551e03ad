package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.storage.StorageLevel

/** Lifecycle helper for eager `localCheckpoint()` materializations.
  *
  * Several operators ([[Dedup.lshCandidatePairs]], [[Dedup.dupClusters]],
  * [[Ivf.kmeansFit]], [[Pq.pqFit]]) eagerly localCheckpoint intermediate
  * frames — the checkpoint truncates lineage and stops self-joins /
  * iterative loops from recomputing the dominant subtree per consumer.
  * The cost: those operators run cluster jobs at CONSTRUCTION time (even
  * under EXPLAIN), and each checkpoint pins executor storage blocks until
  * freed. Inside training/propagation loops only the LATEST checkpoint is
  * live — superseded iterations are released here so a long session never
  * accumulates per-iteration blocks.
  *
  * A localCheckpoint has no lineage to recompute from: only unpersist a
  * frame once nothing returned to the caller can reference it.
  *
  * [[boundary]] is the lineage-keeping form for pipeline stage
  * boundaries: the same flat one-leaf plan, but a released or lost block
  * recomputes instead of failing.
  */
private[graft] object Checkpoints {

  /** Free the executor blocks behind an eagerly localCheckpointed frame
    * that has been superseded. No-op for frames that are not a direct
    * checkpoint scan (safety: never unpersists through derived plans).
    */
  def unpersist(df: Dataset[_]): Unit = df.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd.unpersist(blocking = false)
    case _             => ()
  }

  // ---- tracked-checkpoint lifecycle (r17) ------------------------------
  //
  // Every eager localCheckpoint pins executor storage blocks with NO
  // lineage to fall back on, so the only safe release point for a
  // checkpoint referenced by an operator's RETURNED plan is "after the
  // caller is completely done with the result". Before r17 that release
  // was implicit: the bench called System.gc() between queries so the
  // ContextCleaner would collect unreachable checkpoint RDDs — driver-GC
  // hygiene papering over a real §5 leak (blocks from 159 queries × reps
  // piled up and inflated later queries). Now each EPHEMERAL checkpoint
  // registers its RDD id here and harnesses release them explicitly
  // between queries ([[releaseTracked]]), deterministic and GC-free.
  //
  // Checkpoints that must OUTLIVE the query — frames reachable from
  // module-level caches (the shared HNSW/IVF-PQ indexes per data dir) —
  // are built inside [[pinned]], which suspends registration on the
  // current thread; releasing those would break every later consumer,
  // since a localCheckpoint cannot recompute.

  private val trackedIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val pinnedDepth = new ThreadLocal[Integer] { override def initialValue: Integer = 0 }

  /** Run `body` with checkpoint tracking suspended on this thread: every
    * [[tracked]] checkpoint created inside is index-lifetime (survives
    * [[releaseTracked]]). For builders whose results ride module caches.
    *
    * Pinning is thread-local. A tracked checkpoint that `body` creates on
    * another thread (a Future, a parallel collection, a thread pool) is
    * registered as releasable, and the next [[releaseTracked]] unpersists
    * it; since a localCheckpoint cannot recompute, its later consumers
    * fail. Builders that fan out must pin on each thread that checkpoints.
    */
  def pinned[T](body: => T): T = {
    pinnedDepth.set(pinnedDepth.get + 1)
    try body finally pinnedDepth.set(pinnedDepth.get - 1)
  }

  /** Eager localCheckpoint registered for release at the next
    * [[releaseTracked]] (unless created under [[pinned]]). Use for every
    * per-query-lifetime materialization.
    */
  def tracked[T](ds: Dataset[T]): Dataset[T] = {
    val c = ds.localCheckpoint()
    if (pinnedDepth.get == 0) rddId(c).foreach(id => trackedIds.add(id))
    c
  }

  /** Stage boundary: runs `df` once, as the SQL action `name`, into an RDD
    * persisted MEMORY_AND_DISK, and returns a frame over that RDD whose
    * plan is a single `LogicalRDD` leaf. Consumers analyze and plan a
    * constant-size tree however many boundaries sit upstream.
    *
    * The leaf carries the row count and size (UnsafeRow bytes) measured
    * from the materialized rows, so downstream joins plan as broadcast or
    * shuffled by what the stage really produced; without them the leaf
    * would report `spark.sql.defaultSizeInBytes` and every join against
    * it would shuffle.
    *
    * Unlike [[tracked]]'s localCheckpoint, lineage is kept: a lost or
    * released block recomputes from `df`'s plan. Nothing registers with
    * the CacheManager. The RDD (named `boundary: <name>`) is registered
    * for [[releaseTracked]] unless created under [[pinned]]; releasing a
    * boundary that a live frame still reads costs a recompute, not a
    * failure, unless that recompute has to reach a released or lost
    * localCheckpoint in `df`'s lineage.
    */
  def boundary(df: DataFrame, name: String): DataFrame = {
    val fallbackRowBytes = df.schema.defaultSize.toLong
    val (rows, counts) = PlanBridge.withAction(df, name) { plan =>
      val rows = plan.execute().map(_.copy())
        .setName(BoundaryPrefix + name).persist(StorageLevel.MEMORY_AND_DISK)
      val counts = df.sparkSession.sparkContext.runJob(rows, (it: Iterator[InternalRow]) => {
        var n, bytes = 0L
        it.foreach { r =>
          n += 1
          bytes += (r match {
            case u: UnsafeRow => u.getSizeInBytes.toLong
            case _            => fallbackRowBytes
          })
        }
        (n, bytes)
      })
      (rows, counts)
    }
    if (pinnedDepth.get == 0) trackedIds.add(rows.id)
    PlanBridge.rddLeaf(df, rows, Statistics(sizeInBytes = BigInt(counts.map(_._2).sum),
      rowCount = Some(BigInt(counts.map(_._1).sum))))
  }

  /** Name prefix of every [[boundary]] RDD. */
  val BoundaryPrefix = "boundary: "

  /** Row count a [[boundary]] frame measured when it materialized; None
    * for any other frame (a localCheckpoint leaf's row count, if it has
    * one, is the optimizer's estimate).
    */
  def boundaryRows(df: Dataset[_]): Option[Long] = df.queryExecution.analyzed match {
    case l: LogicalRDD if Option(l.rdd.name).exists(_.startsWith(BoundaryPrefix)) =>
      l.stats.rowCount.map(_.toLong)
    case _ => None
  }

  /** Unpersist every tracked checkpoint still persisted, then forget them.
    * Call only when no frame returned by the operators since the last
    * release can still be consumed (e.g. between bench queries, outside
    * the timed window). Already-released ids no-op (public
    * `getPersistentRDDs` lookup), so loop-internal [[release]] calls
    * compose with tracking.
    */
  def releaseTracked(spark: SparkSession): Unit = {
    val persistent = spark.sparkContext.getPersistentRDDs
    val it = trackedIds.iterator()
    while (it.hasNext) {
      persistent.get(it.next()).foreach(_.unpersist(blocking = false))
    }
    trackedIds.clear()
  }

  /** Number of ids currently registered — spec observability. */
  def trackedCount: Int = trackedIds.size()

  /** The id of the RDD backing a localCheckpointed frame, if the frame is
    * a direct checkpoint scan. Lets callers (and specs) track exactly the
    * blocks a frame pins instead of counting the context-global persistent
    * set, which is shared with every other consumer of the session.
    */
  def rddId(df: Dataset[_]): Option[Int] = df.queryExecution.analyzed match {
    case l: LogicalRDD => Some(l.rdd.id)
    case _             => None
  }

  // ---- durable (spill-to-FS) twin of the localCheckpoint lifecycle ----
  //
  // localCheckpoint blocks are EXECUTOR-LOCAL: on a real cluster, losing
  // one executor mid-loop kills the whole iterative job (a 100 TB
  // clustering run cannot restart from scratch on every pre-emption).
  // `materialize(df, Some(dir))` writes durable parquet on the shared FS
  // instead — the annQuery spillPath pattern generalized. The caller owns
  // `dir` for the LIFETIME of the returned frame; superseded iterations
  // are deleted with `release`.

  /** Eagerly materialize: durable parquet under `spill` when set (survives
    * executor loss; read back as the frame to continue from), else
    * `localCheckpoint` (fast, executor-local).
    */
  def materialize(df: DataFrame, spill: Option[String]): DataFrame = spill match {
    case Some(dir) =>
      df.write.mode("overwrite").parquet(dir)
      df.sparkSession.read.parquet(dir)
    case None => tracked(df)
  }

  /** Release a superseded [[materialize]] result: delete the spill dir, or
    * unpersist the executor-local blocks. Only call once nothing returned
    * to the caller can reference the frame.
    */
  def release(df: Dataset[_], spill: Option[String]): Unit = spill match {
    case Some(dir) =>
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
      ()
    case None => unpersist(df)
  }
}
