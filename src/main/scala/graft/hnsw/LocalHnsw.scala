package graft.hnsw

import scala.collection.mutable

import graft.functions.Distances

/** Partition-local HNSW graph — the plain-Scala inner loop of the
  * distributed build (SURVEY.md B1–B6, §7.3 "graph build inner loop").
  *
  * Implements the same algorithm family as the reference engine
  * (`hsnw_trial.py:67-294`): multi-layer navigable small-world graph with
  * greedy descent through sparse upper layers, bounded best-first search
  * (two heaps + visited set + early exit) on the target layer, a diversity
  * neighbor-selection heuristic, bidirectional linking with degree pruning,
  * and entry-point maintenance. Written fresh for Scala: ids are global
  * longs supplied by the caller (the Spark build job assigns them
  * deterministically), and levels are supplied per-id (see
  * [[graft.functions.Levels]]) instead of drawn from a shared sequential
  * RNG — that is what makes the build partition-parallel.
  *
  * STORAGE IS DENSE AND FLAT (r16): the r15 layout kept vectors, norms and
  * adjacency in LongMaps keyed by global id, which put 4–6 DEPENDENT cache
  * misses in front of every distance eval (map probe → boxed value or
  * array header → data; `norms` was a LongMap[Double], boxing every norm).
  * An int8 candidate pre-screen (BENCH_SCALE_BUILDPHASES512.json,
  * int8_screen_experiment_r16) measured the 32-way graph phase to be bound
  * by exactly those dependent-miss chains, not by streamed bytes; it ran
  * 13% slower single-thread and ~40% slower at 32-way and was removed. Nodes
  * are therefore numbered densely in INSERTION order (ascending global id
  * within a shard — buildFromPid feeds ids ascending and [[LocalHnsw.fromRows]]
  * sorts, so dense order ≡ id order and (dist, dense) tie-breaks equal
  * (dist, id)); vectors live at `flat(d·dim)` in ONE contiguous float
  * array (no per-vector object or header hop), norms/levels/ids in dense
  * primitive arrays that fit L2, and adjacency lists hold dense indices.
  * The global id appears only at the API boundary (`add`, `search`,
  * `edges`, the `skip` predicate) — the hot loop never touches a map.
  * Same algorithm, same arithmetic, same (dist, id) total order:
  * bit-identical results to the r15 layout (the whole LocalHnswSpec +
  * HnswSparkSpec suite pins behavior; DistancesSpec pins the arithmetic).
  *
  * This class is used strictly inside `mapPartitions`; it never touches the
  * DataFrame layer.
  */
final class LocalHnsw(
    val dim: Int,
    val m: Int,
    val maxM0: Int,
    val efConstruction: Int,
    val metricName: String) extends Serializable {

  // validates the metric name exactly like the reference's constructor
  // check (`hsnw_trial.py:88-89`)
  Distances.metricLocal(metricName)
  private val cacheNorms = metricName == "cosine"

  // ---- dense flat storage --------------------------------------------
  // dense index d (0..size-1, insertion order) → node. Insertion order is
  // ascending global id on every caller path, so comparisons by dense
  // index reproduce comparisons by global id — the engine's (dist, id)
  // total order is preserved without carrying longs through the loop.
  // start small: many-small-sub-graph callers (HnswMerge's boundary
  // groups) reconstruct thousands of tiny graphs, and a large initial
  // flat block (cap·dim floats) would be allocated+zeroed for each;
  // bulk callers pre-size via ensureCapacity (fromRows) or amortize
  // doubling (build — the copies are memcpy-cheap vs distance evals)
  private var cap = 64
  private var n = 0
  private var flat = new Array[Float](cap * dim)
  private var normArr = new Array[Double](cap)
  private var idArr = new Array[Long](cap)
  private var levelArr = new Array[Int](cap)
  private var adj = new Array[Array[LongList]](cap)
  /** global id → dense index — COLD paths only (registration, edge
    * ingest, entry translation); the traversal loops never probe it.
    */
  private val denseOf = new mutable.LongMap[Int]()

  private var entryDense: Int = -1
  var maxLayer: Int = -1

  def size: Int = n
  /** Entry point as a GLOBAL id (-1 when empty) — the reference meta's
    * `entry_point` convention.
    */
  def entryPoint: Long = if (entryDense < 0) -1L else idArr(entryDense)

  private def grow(): Unit = ensureCapacity(cap * 2)

  /** Grow the dense arrays to hold ≥ `target` nodes in ONE copy — bulk
    * reconstruction ([[LocalHnsw.fromRows]]) knows its node count up
    * front, and per-doubling copies of the flat block would otherwise
    * re-copy ~2× the corpus per rebuilt sub-graph.
    */
  private def ensureCapacity(target: Int): Unit = {
    if (target <= cap) return
    cap = math.max(target, cap)
    flat = java.util.Arrays.copyOf(flat, cap * dim)
    normArr = java.util.Arrays.copyOf(normArr, cap)
    idArr = java.util.Arrays.copyOf(idArr, cap)
    levelArr = java.util.Arrays.copyOf(levelArr, cap)
    adj = java.util.Arrays.copyOf(adj, cap)
  }

  /** Register a node: copy the vector into the flat block, cache its norm
    * (cosine), allocate adjacency. Insertion order IS
    * the dense order — callers must feed ascending global ids (asserted)
    * so dense tie-breaks equal id tie-breaks.
    */
  private def register(id: Long, vector: Array[Float], level: Int): Int = {
    require(vector.length == dim, s"dimension mismatch: ${vector.length} != $dim")
    require(n == 0 || idArr(n - 1) < id,
      s"ids must arrive strictly ascending (got $id after ${idArr(n - 1)}) — " +
        "dense order must equal id order for (dist, id) tie-break fidelity")
    if (n == cap) grow()
    val d = n
    n += 1
    System.arraycopy(vector, 0, flat, d * dim, dim)
    normArr(d) = if (cacheNorms) Distances.normLocal(vector) else 0.0
    idArr(d) = id
    levelArr(d) = level
    adj(d) = Array.fill(level + 1)(new LongList(if (level == 0) maxM0 else m))
    denseOf(id) = d
    d
  }

  // ---- distance kernels over the flat block ---------------------------
  // Same accumulation order as Distances.{cosineLocalPre, l2Local} —
  // bit-identical values (DistancesSpec pins the cosine identity; l2 is
  // the same single-accumulator loop reading flat instead of an array).

  /** Query norm for the cached-cosine path; unused (0.0) for l2. */
  @inline private def qNormOf(q: Array[Float]): Double =
    if (cacheNorms) Distances.normLocal(q) else 0.0

  @inline private def dQ(q: Array[Float], qn: Double, d: Int): Double = {
    val off = d * dim
    if (cacheNorms) {
      val nd = normArr(d)
      if (qn == 0.0 || nd == 0.0) 1.0
      else {
        var dot = 0.0
        var i = 0
        while (i < dim) { dot += q(i).toDouble * flat(off + i).toDouble; i += 1 }
        1.0 - dot / (qn * nd)
      }
    } else {
      var acc = 0.0
      var i = 0
      while (i < dim) {
        val df = q(i).toDouble - flat(off + i).toDouble
        acc += df * df
        i += 1
      }
      math.sqrt(acc)
    }
  }

  @inline private def dDense(a: Int, b: Int): Double = {
    val oa = a * dim
    val ob = b * dim
    if (cacheNorms) {
      val na = normArr(a)
      val nb = normArr(b)
      if (na == 0.0 || nb == 0.0) 1.0
      else {
        var dot = 0.0
        var i = 0
        while (i < dim) { dot += flat(oa + i).toDouble * flat(ob + i).toDouble; i += 1 }
        1.0 - dot / (na * nb)
      }
    } else {
      var acc = 0.0
      var i = 0
      while (i < dim) {
        val df = flat(oa + i).toDouble - flat(ob + i).toDouble
        acc += df * df
        i += 1
      }
      math.sqrt(acc)
    }
  }

  // ---- traversal (dense) ----------------------------------------------

  @inline private def neighborsAt(d: Int, layer: Int): LongList = {
    val layers = adj(d)
    if (layer < layers.length) layers(layer) else LocalHnsw.EmptyList
  }

  /** Bounded best-first search on one layer (reference `_search_layer`,
    * `hsnw_trial.py:156-192`): min-heap frontier, bounded max-heap of the
    * current best `ef`, visited set, early exit when the frontier head is
    * worse than the worst of the kept set. Returns (dist, DENSE id)
    * ascending; [[searchLayer]] is the global-id wrapper.
    *
    * `skip` (tombstones, global-id domain) excludes ids from the KEPT set
    * but still traverses through them. This DELIBERATELY deviates from the
    * reference, whose `_search_layer` `continue`s on tombstoned neighbors
    * and never routes through them (`hsnw_trial.py:178-179`): pruning
    * deleted nodes from traversal disconnects the graph around deleted
    * hubs and forces ef widening as the delete count grows. Routing
    * through them keeps search cost independent of the total delete count
    * — deleted hubs keep navigating until a rebuild reclaims them — while
    * still never returning them.
    */
  private def searchLayerDense(q: Array[Float], qn: Double, entry: Int, ef: Int, layer: Int,
                               skip: Long => Boolean): Array[(Double, Long)] = {
    val visited = new LongHashSet(math.max(64, 4 * ef))
    visited.add(entry.toLong)
    // frontier: nearest-(dist, id) first; kept: worst-(dist, id) at the
    // root, bounded at ef — primitive parallel-array heaps, no boxing
    val frontier = new PairHeap(64, max = false)
    val kept = new PairHeap(ef + 2, max = true)
    val d0 = dQ(q, qn, entry)
    frontier.push(d0, entry.toLong)
    if (!skip(idArr(entry))) kept.push(d0, entry.toLong)
    var done = false
    while (!done && frontier.nonEmpty) {
      val cd = frontier.topDist
      val c = frontier.topId.toInt
      frontier.pop()
      if (kept.size >= ef && cd > kept.topDist) {
        done = true // early exit
      } else {
        val nbrs = neighborsAt(c, layer)
        var i = 0
        while (i < nbrs.length) {
          val nb = nbrs(i).toInt
          if (visited.add(nb.toLong)) {
            val nd = dQ(q, qn, nb)
            if (kept.size < ef || nd < kept.topDist) {
              frontier.push(nd, nb.toLong)
              if (!skip(idArr(nb))) {
                kept.push(nd, nb.toLong)
                if (kept.size > ef) kept.pop()
              }
            }
          }
          i += 1
        }
      }
    }
    kept.drainSortedAsc()
  }

  /** Global-id wrapper of [[searchLayerDense]] (kept for API parity with
    * the pre-r16 layout; production callers go through [[search]]).
    */
  def searchLayer(q: Array[Float], entry: Long, ef: Int, layer: Int,
                  skip: Long => Boolean = _ => false): Array[(Double, Long)] =
    searchLayerDense(q, qNormOf(q), denseOf(entry), ef, layer, skip)
      .map { case (dist, d) => (dist, idArr(d.toInt)) }

  /** Diversity heuristic (reference `_select_neighbors`,
    * `hsnw_trial.py:133-151`): scan candidates by ascending distance to the
    * query; keep one unless an already-selected neighbor is closer to it
    * than it is to the query. Dense domain.
    */
  private def selectNeighbors(candidates: Array[(Double, Long)], capN: Int): Array[Int] = {
    val selected = new mutable.ArrayBuffer[Int](capN)
    var i = 0
    while (i < candidates.length && selected.size < capN) {
      val (cd, c) = candidates(i)
      var keep = true
      var j = 0
      while (keep && j < selected.size) {
        if (dDense(c.toInt, selected(j)) < cd) keep = false
        j += 1
      }
      if (keep) selected += c.toInt
      i += 1
    }
    selected.toArray
  }

  /** Greedy hill-climb to the locally nearest node on one layer
    * (reference insert/query phase-1 descent, `hsnw_trial.py:223-233`).
    */
  private def greedyStep(q: Array[Float], qn: Double, start: Int, layer: Int): Int = {
    var cur = start
    var curD = dQ(q, qn, cur)
    var improved = true
    while (improved) {
      improved = false
      val nbrs = neighborsAt(cur, layer)
      var i = 0
      while (i < nbrs.length) {
        val nb = nbrs(i).toInt
        val nd = dQ(q, qn, nb)
        if (nd < curD) { cur = nb; curD = nd; improved = true }
        i += 1
      }
    }
    cur
  }

  /** Full insert (reference `add_point`, `hsnw_trial.py:197-265`), with id
    * and level supplied by the caller. Ids must arrive ascending (the
    * Spark build feeds them sorted; [[register]] asserts).
    */
  def add(id: Long, vector: Array[Float], level: Int): Unit = {
    val d = register(id, vector, level)
    if (entryDense < 0) { entryDense = d; maxLayer = level; return }

    val qn = qNormOf(vector)
    var cur = entryDense
    var layer = maxLayer
    while (layer > level) { cur = greedyStep(vector, qn, cur, layer); layer -= 1 }

    layer = math.min(level, maxLayer)
    while (layer >= 0) {
      val cands = searchLayerDense(vector, qn, cur, efConstruction, layer, _ => false)
      val capN = if (layer == 0) maxM0 else m
      val selected = selectNeighbors(cands, capN)
      var i = 0
      while (i < selected.length) {
        link(d, selected(i), layer, capN)
        i += 1
      }
      cur = cands(0)._2.toInt
      layer -= 1
    }

    if (level > maxLayer) { maxLayer = level; entryDense = d }
  }

  /** Bidirectional link + degree prune (reference `hsnw_trial.py:246-254`):
    * when a neighbor list exceeds its cap, keep the `cap` closest to that
    * node. Dense domain.
    */
  private def link(a: Int, b: Int, layer: Int, capN: Int): Unit = {
    adj(a)(layer) += b.toLong
    val bl = adj(b)(layer)
    bl += a.toLong
    if (bl.length > capN) {
      // exactly one over cap: drop the single (dist, id)-largest — the
      // same KEPT SET as sort-by-(dist,id)-take(cap), with no sort and no
      // allocation (the list keeps insertion order; normalizeAdjacency
      // sorts for the persisted/query form). On distance TIES this keeps
      // the smaller id, intentionally differing from the pre-r15 stable
      // sort-by-distance-only (earliest-inserted won) and from the
      // reference's same stable prune (hsnw_trial.py:252) — (dist,id) is
      // the deterministic total order the rest of the engine uses.
      // (dense order ≡ id order, so comparing dense indices is comparing
      // ids.)
      var worst = 0
      var worstD = dDense(b, bl(0).toInt)
      var i = 1
      while (i < bl.length) {
        val di = dDense(b, bl(i).toInt)
        if (di > worstD || (di == worstD && bl(i) > bl(worst))) {
          worst = i; worstD = di
        }
        i += 1
      }
      bl.remove(worst)
    }
  }

  /** Top-k ANN search (reference `search`, `hsnw_trial.py:267-294`):
    * greedy descent to layer 1, bounded best-first on layer 0 with
    * ef = max(ef, k), rescore + ascending sort + take k. `skip`
    * (tombstones — Q3's "deleted ids never surface" outcome, global-id
    * domain) excludes ids from the kept set during traversal — never from
    * the graph walk (a deliberate deviation from the reference's
    * prune-from-traversal, see [[searchLayerDense]]) — so cost does not
    * grow with the delete count.
    */
  def search(q: Array[Float], k: Int, ef: Int, skip: Long => Boolean = _ => false): Array[(Long, Double)] = {
    if (entryDense < 0) return Array.empty
    val width = math.max(ef, k)
    val qn = qNormOf(q)
    var cur = entryDense
    var layer = maxLayer
    while (layer >= 1) { cur = greedyStep(q, qn, cur, layer); layer -= 1 }
    searchLayerDense(q, qn, cur, width, 0, skip)
      .iterator
      .map { case (dist, d) => (idArr(d.toInt), dist) }
      .take(k)
      .toArray
  }

  /** Sort every neighbor list by (distance to the owning node, id).
    * Persisted edge rows arrive in SHUFFLE order when a sub-graph is
    * rebuilt, and best-first search outcomes depend on neighbor scan order
    * (a candidate pruned from the kept heap is also never enqueued on the
    * frontier) — normalizing makes query results reproducible run-to-run
    * on the same index. (dense ≡ id order, so sorting by (dist, dense)
    * is sorting by (dist, id).)
    */
  def normalizeAdjacency(): Unit = {
    var d = 0
    while (d < n) {
      val layers = adj(d)
      var l = 0
      while (l < layers.length) {
        val nbrs = layers(l)
        if (nbrs.length > 1) {
          val pairs = new Array[(Double, Long)](nbrs.length)
          var i = 0
          while (i < nbrs.length) {
            pairs(i) = (dDense(d, nbrs(i).toInt), nbrs(i))
            i += 1
          }
          val sorted = pairs.sorted
          i = 0
          while (i < sorted.length) { nbrs.set(i, sorted(i)._2); i += 1 }
        }
        l += 1
      }
      d += 1
    }
  }

  /** Flatten the adjacency to (src, layer, dst) rows — GLOBAL ids, dense
    * insertion-order iteration (deterministic, unlike the pre-r16
    * LongMap hash-order walk).
    */
  def edges: Iterator[(Long, Int, Long)] =
    (0 until n).iterator.flatMap { d =>
      val src = idArr(d)
      adj(d).iterator.zipWithIndex.flatMap { case (nbrs, layer) =>
        nbrs.iterator.map(dst => (src, layer, idArr(dst.toInt)))
      }
    }

  /** Per-(src, layer) neighbor-list degree — what the degree-cap spec
    * inspects (the adjacency itself is dense and private).
    */
  def layerDegrees: Iterator[(Long, Int, Int)] =
    (0 until n).iterator.flatMap { d =>
      val src = idArr(d)
      adj(d).iterator.zipWithIndex.map { case (nbrs, layer) => (src, layer, nbrs.length) }
    }

  /** Ingest one persisted adjacency row (global ids). An edge whose `dst`
    * was never registered is DROPPED: the pre-r16 layout kept such rows
    * and sorted them to the tail (normalizeAdjacency's contains-guard),
    * but any traversal actually reaching one crashed on the missing
    * vector — dropping is the strictly-safer reading of the same data.
    */
  private def ingestEdge(src: Long, layer: Int, dst: Long): Unit = {
    val sd = denseOf(src)
    val layers = adj(sd)
    if (layer < layers.length) {
      denseOf.get(dst).foreach { dd => layers(layer) += dd.toLong }
    }
  }
}

/** Growable primitive long array — the adjacency-list cell (boxed
  * ArrayBuffer[Long] walked the hot loop through an Array[AnyRef] of
  * boxed longs).
  */
private[hnsw] class LongList(initial: Int) {
  def this() = this(8)
  private var arr = new Array[Long](math.max(1, initial))
  private var len = 0
  @inline def length: Int = len
  @inline def apply(i: Int): Long = arr(i)
  @inline def set(i: Int, v: Long): Unit = arr(i) = v
  def +=(v: Long): Unit = {
    if (len == arr.length) arr = java.util.Arrays.copyOf(arr, arr.length * 2)
    arr(len) = v
    len += 1
  }
  def remove(i: Int): Unit = {
    require(i >= 0 && i < len, s"LongList.remove($i) outside [0, $len)")
    System.arraycopy(arr, i + 1, arr, i, len - i - 1)
    len -= 1
  }
  def iterator: Iterator[Long] = (0 until len).iterator.map(arr(_))
}

/** Open-addressing primitive long set (linear probing, ≤ 0.5 load) — the
  * searchLayer visited set. `add` returns true when the key was new, so
  * membership test and insert are one probe sequence.
  */
private[hnsw] final class LongHashSet(initialCapacity: Int) {
  private var keys = {
    val c = java.lang.Integer.highestOneBit(math.max(16, initialCapacity) - 1) * 2
    val a = new Array[Long](c)
    java.util.Arrays.fill(a, Long.MinValue)
    a
  }
  private var mask = keys.length - 1
  private var n = 0
  private var hasSentinel = false

  @inline private def slot(k: Long): Int = {
    val h = k * 0x9E3779B97F4A7C15L
    ((h ^ (h >>> 32)).toInt) & mask
  }

  def add(k: Long): Boolean = {
    if (k == Long.MinValue) {
      if (hasSentinel) false else { hasSentinel = true; true }
    } else {
      var i = slot(k)
      var cur = keys(i)
      while (cur != Long.MinValue) {
        if (cur == k) return false
        i = (i + 1) & mask
        cur = keys(i)
      }
      keys(i) = k
      n += 1
      if (2 * n > keys.length) rehash()
      true
    }
  }

  private def rehash(): Unit = {
    val old = keys
    keys = new Array[Long](old.length * 2)
    java.util.Arrays.fill(keys, Long.MinValue)
    mask = keys.length - 1
    var i = 0
    while (i < old.length) {
      val k = old(i)
      if (k != Long.MinValue) {
        var j = slot(k)
        while (keys(j) != Long.MinValue) j = (j + 1) & mask
        keys(j) = k
      }
      i += 1
    }
  }
}

/** Binary heap over primitive (dist, id) pairs in parallel arrays —
  * searchLayer's frontier (min) and bounded kept set (max). Ordering is
  * lexicographic (dist, id); `max = true` flips it so the root is the
  * worst kept pair.
  */
private[hnsw] final class PairHeap(initial: Int, max: Boolean) {
  private var ds = new Array[Double](math.max(2, initial))
  private var ids = new Array[Long](ds.length)
  private var n = 0

  @inline def size: Int = n
  @inline def nonEmpty: Boolean = n > 0
  @inline def topDist: Double = ds(0)
  @inline def topId: Long = ids(0)

  @inline private def before(d1: Double, i1: Long, d2: Double, i2: Long): Boolean =
    if (max) d1 > d2 || (d1 == d2 && i1 > i2)
    else d1 < d2 || (d1 == d2 && i1 < i2)

  def push(d: Double, id: Long): Unit = {
    if (n == ds.length) {
      ds = java.util.Arrays.copyOf(ds, n * 2)
      ids = java.util.Arrays.copyOf(ids, n * 2)
    }
    var i = n
    n += 1
    while (i > 0 && before(d, id, ds((i - 1) / 2), ids((i - 1) / 2))) {
      val p = (i - 1) / 2
      ds(i) = ds(p); ids(i) = ids(p)
      i = p
    }
    ds(i) = d
    ids(i) = id
  }

  def pop(): Unit = {
    n -= 1
    val d = ds(n)
    val id = ids(n)
    var i = 0
    var done = false
    while (!done) {
      val l = 2 * i + 1
      if (l >= n) done = true
      else {
        var c = l
        if (l + 1 < n && before(ds(l + 1), ids(l + 1), ds(l), ids(l))) c = l + 1
        if (before(ds(c), ids(c), d, id)) {
          ds(i) = ds(c); ids(i) = ids(c)
          i = c
        } else done = true
      }
    }
    if (n > 0) { ds(i) = d; ids(i) = id }
  }

  /** All pairs, (dist, id) ascending — searchLayer's return shape. */
  def drainSortedAsc(): Array[(Double, Long)] = {
    val out = new Array[(Double, Long)](n)
    var i = 0
    while (i < n) { out(i) = (ds(i), ids(i)); i += 1 }
    scala.util.Sorting.quickSort(out)(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
    out
  }
}

object LocalHnsw {
  /** Shared empty adjacency cell for layers a node does not reach —
    * STRUCTURALLY immutable (mutators throw), not just read-only by
    * caller convention: one instance backs every node's missing layers,
    * so a single stray `+=` would corrupt adjacency globally (ADVICE
    * r15). Real adjacency cells are plain LongLists — the mutating call
    * sites never see this subclass, so their dispatch stays monomorphic.
    */
  private[hnsw] val EmptyList: LongList = new LongList(1) {
    override def +=(v: Long): Unit =
      throw new UnsupportedOperationException("shared empty adjacency is immutable")
    override def set(i: Int, v: Long): Unit =
      throw new UnsupportedOperationException("shared empty adjacency is immutable")
    override def remove(i: Int): Unit =
      throw new UnsupportedOperationException("shared empty adjacency is immutable")
  }

  /** Rebuild a LocalHnsw from persisted rows without re-running insertion —
    * used by the distributed query path to reconstruct each partition's
    * sub-graph from the edges table. Nodes are SORTED by id before dense
    * registration (shuffle arrival order is arbitrary) so dense order ≡
    * id order — the tie-break fidelity the flat layout relies on.
    */
  def fromRows(
      dim: Int, m: Int, maxM0: Int, efConstruction: Int, metricName: String,
      nodes: Iterator[(Long, Array[Float], Int)],
      edges: Iterator[(Long, Int, Long)]): LocalHnsw = {
    val idx = new LocalHnsw(dim, m, maxM0, efConstruction, metricName)
    val sorted = nodes.toArray.sortBy(_._1)
    idx.ensureCapacity(sorted.length)
    var entry = -1L
    var entryLevel = -1
    sorted.foreach { case (id, vec, level) =>
      idx.register(id, vec, level)
      // entry point = lowest id among the highest-level nodes (deterministic,
      // matches HnswBuild's ORDER BY level DESC, id ASC LIMIT 1 meta rule);
      // ids ascend here, so strictly-greater keeps the lowest id per level
      if (level > entryLevel) { entry = id; entryLevel = level }
    }
    if (entry >= 0) {
      idx.entryDense = idx.denseOf(entry)
      idx.maxLayer = entryLevel
    }
    edges.foreach { case (src, layer, dst) => idx.ingestEdge(src, layer, dst) }
    idx.normalizeAdjacency()
    idx
  }
}
