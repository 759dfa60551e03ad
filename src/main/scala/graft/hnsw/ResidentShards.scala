package graft.hnsw

import java.lang.ref.WeakReference
import java.util.concurrent.{ConcurrentHashMap, ThreadLocalRandom}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.{Dependency, HashPartitioner, OneToOneDependency, Partition, Partitioner, SparkEnv, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.{BlockBridge, SchedulerBridge, TopKBuffer}

/** One shard graph as the query path serves it: the graph and the ids
  * its node rows mark as tombstoned (deleted, or spill ghosts of a merged
  * index).
  */
private[hnsw] final class Shard(val pid: Int, val graph: LocalHnsw, val tomb: Set[Long])

/** Maps a shard pid to its slot, `pid mod slots`: with at least P slots
  * home shards `0 until P` own one slot each, and streaming-appended
  * shards (`pid ≥ P`) share the slot of `pid mod slots` either way.
  */
private[hnsw] final class SlotPartitioner(val numPartitions: Int) extends Partitioner {
  def getPartition(key: Any): Int = Math.floorMod(key.asInstanceOf[Int], numPartitions)
}

/** The shard graphs of one node/edge table pair, resident on the
  * executors so that ANN queries search them instead of shuffling the
  * node and edge tables and rebuilding every graph on each call.
  *
  * It follows Structured Streaming's state store rather than
  * `RDD.persist`: a registry on each executor ([[ShardRegistry]]), keyed
  * by (index key, slot), loads a slot's graphs on a miss from [[source]],
  * the pid-partitioned lineage of the index tables kept here. The first
  * query's job runs that lineage's shuffle and builds each graph it
  * touches with [[LocalHnsw.fromRows]]; later jobs find the shuffle output
  * in place (its stage is skipped) and the graphs loaded, so they move
  * only query rows and k candidates per shard. Persisted blocks would not
  * survive: callers routinely unpersist every cached RDD between queries.
  *
  * Lifetime rides on `token`, a broadcast of [[key]]. When no index value
  * on the driver holds these graphs any more, Spark's ContextCleaner
  * removes the token from every executor and the registry drops the
  * slots on its next access ([[ShardRegistry.sweep]]); the same cleaner
  * frees the shuffle output behind [[source]].
  *
  * In local mode there are `min(P, cores)` slots (`cores` is the
  * context's task slots, `local[N]` gives N), so a search runs in one wave
  * of tasks: on fewer cores than shards, a slot holds several shards
  * ([[SlotPartitioner]]). On a cluster, whose cores come and go with its
  * executors while the slot count is fixed for the life of the graphs,
  * every home shard keeps a slot of its own.
  *
  * Nothing here runs a Spark job at construction: the lineage is built
  * when the first search job is submitted.
  */
private[graft] final class ResidentShards(nodes: DataFrame, val edges: DataFrame, val meta: IndexMeta) {
  private[hnsw] val sc = nodes.sparkSession.sparkContext
  val slots: Int = {
    val p = math.max(1, meta.num_partitions)
    SchedulerBridge.localCores(sc).fold(p)(c => math.max(1, math.min(p, c)))
  }
  /** Registry key: random, so the entries of an index from an earlier
    * SparkContext in the same JVM (whose broadcast ids restart at 0) can
    * never be served for this one.
    */
  val key: Long = ThreadLocalRandom.current().nextLong()
  val token: Broadcast[Long] = sc.broadcast(key)

  /** (pid, (node rows, edge rows)), one partition per slot. */
  lazy val source: RDD[(Int, (Iterable[NodeRow], Iterable[EdgeRow]))] = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val n = nodes.select("id", "vector", "level", "tombstone", "pid").as[NodeRow].rdd.map(r => (r.pid, r))
    val e = edges.select("pid", "src", "layer", "dst").as[EdgeRow].rdd.map(r => (r.pid, r))
    n.cogroup(e, new SlotPartitioner(slots))
  }
}

/** What one index value searches: resident shard graphs and, for a
  * filter view, the view's node table, whose tombstone flags replace the
  * graphs' own.
  */
private[graft] final case class ResidentView(graphs: ResidentShards, tombstones: Option[DataFrame])

/** Driver-side sharing of resident graphs between index values. */
private[graft] object ResidentShards {

  // keyed by node table (Datasets compare by identity), values held
  // weakly: an entry lives as long as some index value holds its graphs
  private val byNodes = new java.util.WeakHashMap[DataFrame, WeakReference[ResidentShards]]()
  // filter views: view node table -> the graphs of the index it filters
  private val views = new java.util.WeakHashMap[DataFrame, ResidentShards]()

  private def graphParams(m: IndexMeta) = (m.dim, m.m, m.max_m0, m.ef_construction, m.metric, m.num_partitions)

  private def serves(g: ResidentShards, index: HnswIndex): Boolean =
    (g.edges eq index.edges) && graphParams(g.meta) == graphParams(index.meta)

  /** The graphs `index` searches. Values with the same node and edge
    * tables and graph parameters (copies that change calibration, the PQ
    * sidecar or routing metadata) share one set; a [[registerView]] view
    * searches the graphs of the index it filters with its own tombstones;
    * any other value (a load, a delete, an append) gets its own.
    */
  def of(index: HnswIndex): ResidentView = synchronized {
    Option(views.get(index.nodes)).filter(serves(_, index)) match {
      case Some(g) => ResidentView(g, Some(index.nodes))
      case None =>
        val g = Option(byNodes.get(index.nodes)).flatMap(r => Option(r.get)).filter(serves(_, index))
          .getOrElse {
            val g = new ResidentShards(index.nodes, index.edges, index.meta)
            byNodes.put(index.nodes, new WeakReference(g))
            g
          }
        ResidentView(g, None)
    }
  }

  /** Records `view` as `base` with only tombstone flags changed, so the
    * view's queries search `base`'s graphs.
    */
  def registerView(view: HnswIndex, base: HnswIndex): Unit = {
    // resolved outside the lock: `resident` is a lazy val that calls of()
    val graphs = base.resident.graphs
    synchronized { views.put(view.nodes, graphs) }
  }
}

/** The executor-side registry of resident shard graphs. */
private[graft] object ShardRegistry {
  /** One slot's graphs, each built at most once per (key, slot). `env` is
    * the SparkEnv they were loaded under; `pids` (null until the slot's
    * rows are first read) are the slot's shards with node rows.
    */
  private final class Entry(val broadcastId: Long, val env: SparkEnv) {
    var pids: Set[Int] = _
    var shards = Map.empty[Int, Shard]
  }

  private val entries = new ConcurrentHashMap[(Long, Int), Entry]()

  /** [[LocalHnsw.fromRows]] calls made by the registry in this JVM. */
  private[graft] val loads = new AtomicLong()

  /** The graphs of `slot` under `token`'s index key, sorted by pid: every
    * shard in the slot when `pid` is None, else shard `pid` (none when it
    * has no node rows). Shards not yet built are built from one read of
    * `rows`: every shard in the slot, or `pid` together with the shards in
    * `more`. `rows` and `more` are evaluated only then, so a hit reads no
    * shuffle block, and a shard no call has asked for is never built.
    */
  private[hnsw] def getOrLoad(token: Broadcast[Long], slot: Int, pid: Option[Int], more: => Set[Int])(
      rows: => Iterator[(Int, (Iterable[NodeRow], Iterable[EdgeRow]))],
      build: (Int, Iterable[NodeRow], Iterable[EdgeRow]) => Shard): Array[Shard] = {
    sweep()
    // reading the value puts the token's block on this executor; sweep()
    // takes the block's presence as the index being alive
    val key = token.value
    val e = entries.computeIfAbsent((key, slot), _ => new Entry(token.id, SparkEnv.get))
    val asked = pid.map(Set(_))
    e.synchronized {
      if (e.pids == null || asked.getOrElse(e.pids).exists(p => e.pids(p) && !e.shards.contains(p))) {
        val wanted = asked.map(_ ++ more)
        val pids = Set.newBuilder[Int]
        rows.foreach { case (pid, (ns, es)) =>
          if (ns.nonEmpty) {
            pids += pid
            if (!e.shards.contains(pid) && wanted.forall(_.contains(pid))) {
              loads.incrementAndGet()
              e.shards += pid -> build(pid, ns, es)
            }
          }
        }
        e.pids = pids.result()
      }
      asked.getOrElse(e.pids).toArray.sorted.flatMap(e.shards.get)
    }
  }

  /** Drops the slots of every index whose token this executor no longer
    * holds, and every slot loaded under an earlier SparkEnv (a stopped
    * SparkContext).
    */
  def sweep(): Unit = {
    val env = SparkEnv.get
    entries.values.removeIf(e => (e.env ne env) || !BlockBridge.holdsBroadcast(e.broadcastId))
  }

  /** Index keys with at least one resident slot in this JVM. */
  def residentKeys: Set[Long] = entries.keySet.asScala.map(_._1).toSet
}

/** A slot partition with the matching partitions of the parents. */
private final class SlotPartition(val index: Int, val source: Partition, val queries: Option[Partition],
                                  val tombstones: Option[Partition]) extends Partition

/** One task per slot: searches the slot's resident shards for the call's
  * queries and emits (qid, top-k buffer), one per query row: the query's
  * best k candidates over the shards it searched in this slot, merged
  * with the same heap, (dist, id) order and duplicate-id collapse as the
  * `TopKByDist` aggregate. Queries come either from a broadcast (every
  * query searches every shard) or, for distributed query sets, as a
  * slot-partitioned RDD of (key, (qid, vector)) rows. With `allShards`
  * the key is a slot and the query searches every shard in it; otherwise
  * the key is the one pid to search, and only keyed shards are built. A
  * filter view's tombstoned (pid, id) rows arrive slot-partitioned too,
  * one shuffle of ids per call.
  *
  * Every parent is wired when the job is submitted, not when the plan is
  * built, so constructing the query plan runs no Spark job.
  */
private[hnsw] final class ShardSearchRDD(
    @transient private val res: ResidentView,
    @transient private val queryRows: Option[() => RDD[(Int, (Long, Array[Float]))]],
    broadcastQueries: Option[Broadcast[Array[(Long, Array[Float])]]],
    allShards: Boolean, k: Int, ef: Int)
  extends RDD[(Long, TopKBuffer)](res.graphs.sc, Nil) {

  private val token = res.graphs.token
  private val meta = res.graphs.meta
  private val queryDep = if (queryRows.isDefined) Some(1) else None
  private val tombDep = if (res.tombstones.isDefined) Some(1 + queryDep.size) else None

  @transient private lazy val queryRdd = queryRows.map(_().partitionBy(new SlotPartitioner(res.graphs.slots)))
  @transient private lazy val tombRdd = res.tombstones.map { nodes =>
    val spark = nodes.sparkSession
    import spark.implicits._
    nodes.filter(col("tombstone")).select(col("pid").cast("int"), col("id").cast("long"))
      .as[(Int, Long)].rdd.partitionBy(new SlotPartitioner(res.graphs.slots))
  }

  override protected def getDependencies: Seq[Dependency[_]] =
    (Seq(res.graphs.source) ++ queryRdd ++ tombRdd).map(new OneToOneDependency(_))

  override protected def getPartitions: Array[Partition] = Array.tabulate(res.graphs.slots) { i =>
    new SlotPartition(i, res.graphs.source.partitions(i), queryRdd.map(_.partitions(i)),
      tombRdd.map(_.partitions(i)))
  }

  override def compute(split: Partition, context: TaskContext): Iterator[(Long, TopKBuffer)] = {
    val p = split.asInstanceOf[SlotPartition]
    val queries: Iterator[(Int, (Long, Array[Float]))] = broadcastQueries match {
      case Some(b) => b.value.iterator.map(q => (p.index, q))
      case None => input[(Int, (Long, Array[Float]))](queryDep.get).iterator(p.queries.get, context)
    }
    if (!queries.hasNext) Iterator.empty
    else {
      val tombOf: Shard => Long => Boolean = tombDep match {
        case None => s => s.tomb.contains
        case Some(j) =>
          val byPid = mutable.HashMap.empty[Int, mutable.HashSet[Long]]
          input[(Int, Long)](j).iterator(p.tombstones.get, context).foreach { case (pid, id) =>
            byPid.getOrElseUpdate(pid, mutable.HashSet.empty[Long]) += id
          }
          s => byPid.get(s.pid).fold((_: Long) => false)(set => set.contains)
      }
      def load(pid: Option[Int], more: => Set[Int]): Array[(Shard, Long => Boolean)] =
        ShardRegistry.getOrLoad(token, p.index, pid, more)(
          input[(Int, (Iterable[NodeRow], Iterable[EdgeRow]))](0).iterator(p.source, context),
          (pid, ns, es) => {
            val graph = LocalHnsw.fromRows(meta.dim, meta.m, meta.max_m0, meta.ef_construction, meta.metric,
              ns.iterator.map(n => (n.id, n.vector, n.level)), es.iterator.map(e => (e.src, e.layer, e.dst)))
            new Shard(pid, graph, ns.iterator.filter(_.tombstone).map(_.id).toSet)
          }).map(s => (s, tombOf(s)))
      def topK(shards: Array[(Shard, Long => Boolean)], v: Array[Float]): TopKBuffer = {
        val top = new TopKBuffer(k, dedup = true)
        shards.foreach { case (s, tomb) => s.graph.search(v, k, ef, tomb).foreach { case (id, d) => top.insert(d, id) } }
        top
      }
      if (allShards) {
        val shards = load(None, Set.empty)
        queries.map { case (_, (qid, v)) => (qid, topK(shards, v)) }
      } else {
        // resolved per pid on its first query row, so the rows stream. A
        // shard not built yet (a first call) costs one more pass over the
        // task's query keys, and every shard they name is built from one
        // read of the slot's source rows
        lazy val taskPids = input[(Int, (Long, Array[Float]))](queryDep.get)
          .iterator(p.queries.get, context).map(_._1).toSet
        val byPid = mutable.HashMap.empty[Int, Array[(Shard, Long => Boolean)]]
        queries.map { case (pid, (qid, v)) =>
          (qid, topK(byPid.getOrElseUpdate(pid, load(Some(pid), taskPids)), v))
        }
      }
    }
  }

  private def input[T: ClassTag](j: Int): RDD[T] = dependencies(j).rdd.asInstanceOf[RDD[T]]
}

private[hnsw] object ShardSearchRDD {
  /** The global per-query top-k of a distributed shard search as (qid,
    * rank, id, dist) rows, merged inside the RDD that the query's
    * DataFrame scans (so its plan has no Exchange and a call is one job):
    * the slot tasks' buffers are combined per qid in `parts` partitions.
    * Named [[Hnsw.ShardSearchName]], so plans show `Scan HnswShardSearch`.
    * A broadcast chunk's search is merged on the driver instead
    * ([[ChunkSearch]]).
    */
  def ranked(search: ShardSearchRDD, parts: Int): RDD[(Long, Int, Long, Double)] = {
    val merge = (a: TopKBuffer, b: TopKBuffer) => { a.mergeFrom(b); a }
    search.combineByKey[TopKBuffer](identity, merge, merge, new HashPartitioner(parts))
      .mapPartitions(_.flatMap { case (qid, top) =>
        top.sorted.iterator.zipWithIndex.map { case ((dist, id), i) => (qid, i + 1, id, dist) }
      })
      .setName(Hnsw.ShardSearchName)
  }
}
