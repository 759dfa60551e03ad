package graft

import org.apache.spark.sql.functions._

import graft.operators.{Checkpoints, Dedup, Ivf}

/** The eager-checkpoint lifecycle (ADVICE r02): superseded iteration
  * checkpoints must actually release their executor blocks, and iterative
  * operators must not accumulate one pinned RDD per iteration.
  *
  * Assertions track the SPECIFIC RDD ids each operation creates (diff of
  * `getPersistentRDDs` key sets, or [[Checkpoints.rddId]]) rather than
  * global persistent counts — a concurrently-running suite sharing the
  * context, or an unrelated operator that legitimately caches, must not
  * flip these tests (ADVICE r03).
  */
class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Poll until none of `ids` is still persistent (unpersist is async). */
  private def awaitReleased(ids: Set[Int]): Set[Int] = {
    val deadline = System.nanoTime() + 10e9.toLong
    var live = persistentIds intersect ids
    while (live.nonEmpty && System.nanoTime() < deadline) { Thread.sleep(50); live = persistentIds intersect ids }
    live
  }

  test("unpersist frees a localCheckpoint's blocks; non-checkpoint frames are a safe no-op") {
    val cp = (0L until 100L).toDF("id").localCheckpoint()
    val id = Checkpoints.rddId(cp)
    assert(id.nonEmpty, "a localCheckpointed frame should be a direct checkpoint scan")
    assert(persistentIds.contains(id.get), "eager localCheckpoint should pin its RDD")
    Checkpoints.unpersist(cp)
    assert(awaitReleased(Set(id.get)).isEmpty, s"blocks of RDD ${id.get} not released")
    // derived plan (not a direct checkpoint scan) → no-op, no crash, no id
    assert(Checkpoints.rddId(cp.select(col("id") + 1)).isEmpty)
    Checkpoints.unpersist(cp.select(col("id") + 1))
  }

  test("dupClusters pins O(1) checkpoints, not one per iteration") {
    val before = persistentIds
    // 64-node chain → ~6 pointer-jumping iterations
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val all = (0L until 64L).toDF("doc_id")
    val comp = Dedup.dupClusters(all, chain, "doc_id")
    assert(comp.collect().map(_.getLong(1)).toSet === Set(0L))
    val created = persistentIds -- before
    // only the FINAL labels checkpoint (plus at most the symmetrized edge
    // set) may stay pinned — superseded iterations are freed
    val survivors = {
      val deadline = System.nanoTime() + 10e9.toLong
      var live = persistentIds intersect created
      while (live.size > 2 && System.nanoTime() < deadline) { Thread.sleep(50); live = persistentIds intersect created }
      live
    }
    assert(survivors.size <= 2, s"checkpoints accumulated: created=$created survivors=$survivors")
  }

  test("kmeansFit pins no checkpoints beyond the returned centroids") {
    val before = persistentIds
    val vecs = (0L until 60L).map(i => (i, Array.fill(4)(((i % 3) * 10).toFloat)))
      .toDF("id", "vector")
    val centroids = Ivf.kmeansFit(vecs, k = 3, iters = 4)
    assert(centroids.count() === 3)
    val created = persistentIds -- before
    val survivors = {
      val deadline = System.nanoTime() + 10e9.toLong
      var live = persistentIds intersect created
      while (live.size > 1 && System.nanoTime() < deadline) { Thread.sleep(50); live = persistentIds intersect created }
      live
    }
    assert(survivors.size <= 1, s"per-iteration centroid checkpoints leaked: created=$created survivors=$survivors")
  }

  test("durable spillPath: dupClusters bit-equal to the local form; superseded iterations deleted; no blocks pinned") {
    import graft.operators.Dedup
    import spark.implicits._
    // two chains and a singleton: 0-1-2, 10-11, 20
    val docs = Seq(0L, 1L, 2L, 10L, 11L, 20L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (1L, 2L), (10L, 11L)).toDF("id_a", "id_b")
    val local = Dedup.dupClusters(docs, pairs, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val root = java.nio.file.Files.createTempDirectory("dup-spill").toString
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val spilled = Dedup.dupClusters(docs, pairs, "doc_id", spillPath = Some(root))
    val got = spilled.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === local, "durable and local forms must agree exactly (integer label propagation)")
    assert(got === Set((0L, 0L), (1L, 0L), (2L, 0L), (10L, 10L), (11L, 10L), (20L, 20L)))
    // durable mode pins NO executor-local blocks ...
    assert(spark.sparkContext.getPersistentRDDs.keySet === before,
      "spillPath run must not localCheckpoint anything")
    // ... and keeps exactly one labels_* dir (superseded iterations and sym deleted)
    val left = new java.io.File(root).listFiles().map(_.getName).toSet
    assert(left.count(_.startsWith("labels_")) === 1,
      s"superseded iteration dirs must be deleted, found $left")
    assert(!left.contains("sym"), s"sym dir must be released, found $left")
    // the returned frame stays readable from the surviving dir
    assert(spilled.count() === 6)
  }

  test("durable spillPath: kmeansFit trains on parquet iterations, cleans superseded, result usable") {
    import graft.operators.Ivf
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val vecs = (0L until 64L).map(i => (i, Array.fill(4)(rng.nextGaussian().toFloat)))
      .toDF("id", "vector")
    val root = java.nio.file.Files.createTempDirectory("kmeans-spill").toString
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val cents = Ivf.kmeansFit(vecs, k = 4, iters = 3, spillPath = Some(root))
    assert(spark.sparkContext.getPersistentRDDs.keySet === before,
      "spillPath run must not localCheckpoint anything")
    val left = new java.io.File(root).listFiles().map(_.getName).toSet
    assert(left === Set("centroids_3"), s"only the final iteration may survive, found $left")
    assert(cents.count() === 4)
    // assignment under the durable centroids behaves (every vector assigned)
    val assigned = Ivf.assign(vecs, cents, graft.functions.Distances.l2)
    assert(assigned.count() === 64)
    assert(assigned.select("cid").distinct().count() >= 2)
  }

  test("annQueryAdaptive releases the eager probe checkpoint on BOTH branches") {
    import graft.hnsw.{Hnsw, HnswParams}
    val input = graft.sources.Datagen.gaussianVectors(spark, 300, 8)
    val idx = Hnsw.buildRouted(input,
      HnswParams(dim = 8, m = 4, efConstruction = 16, numPartitions = 2), cellsPerShard = 2)
    idx.nodes.count() // force the build before snapshotting pinned RDDs
    val q1 = input.limit(1).select(col("id").as("qid"), col("vector"))
    val before = persistentIds
    for (_ <- 1 to 3) {
      // routed branch: fallback threshold above any union fraction; a
      // 1-query batch keeps q·ef < num_nodes so the eager decision (and
      // its probe checkpoint) actually runs
      Hnsw.annQueryAdaptive(idx, q1, k = 3, fallbackFraction = 1.1).count()
      // fallback branch: union condition always true, 1 query is
      // rebuild-dominated
      Hnsw.annQueryAdaptive(idx, q1, k = 3, fallbackFraction = 0.0).count()
    }
    val leaked = awaitReleased(persistentIds -- before)
    assert(leaked.isEmpty, s"repeated adaptive calls left pinned probe RDDs: $leaked")
    idx.nodes.unpersist()
  }

  test("tracked/releaseTracked frees per-query checkpoints; pinned builders survive") {
    val t = Checkpoints.tracked((0L until 50L).toDF("id"))
    val p = Checkpoints.pinned { Checkpoints.tracked((0L until 50L).toDF("id")) }
    val tId = Checkpoints.rddId(t).get
    val pId = Checkpoints.rddId(p).get
    assert(persistentIds.contains(tId) && persistentIds.contains(pId),
      "both checkpoints should pin blocks eagerly")
    Checkpoints.releaseTracked(spark)
    assert(awaitReleased(Set(tId)).isEmpty, "tracked checkpoint must be released")
    assert(persistentIds.contains(pId),
      "a checkpoint created under pinned{} must survive releaseTracked")
    // idempotent after a manual release of an already-tracked frame
    val t2 = Checkpoints.tracked((0L until 10L).toDF("id"))
    Checkpoints.unpersist(t2)
    Checkpoints.releaseTracked(spark) // must not throw on the dead id
    assert(Checkpoints.trackedCount === 0)
    Checkpoints.unpersist(p)
  }

  test("boundary: one-leaf plan with measured rows and size, tracked for release") {
    val src = (0L until 1000L).toDF("id").withColumn("k", col("id") % 7)
    val b = Checkpoints.boundary(src.groupBy("k").agg(count(lit(1)).as("n")), "spec")
    assert(b.queryExecution.analyzed.children.isEmpty, "the boundary plan must be a single leaf")
    assert(Checkpoints.boundaryRows(b) === Some(7L))
    assert(Checkpoints.boundaryRows(src.localCheckpoint()).isEmpty,
      "only boundary leaves report a measured row count")
    val stats = b.queryExecution.analyzed.stats
    assert(stats.sizeInBytes > 0 && stats.sizeInBytes < 1024, s"measured size ${stats.sizeInBytes}")
    // the measured size lets the planner broadcast the small side; a leaf
    // without it reports spark.sql.defaultSizeInBytes and sort-merges
    val joined = src.join(b, "k")
    assert(joined.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      joined.queryExecution.executedPlan.toString)
    assert(joined.count() === 1000L)
    val id = Checkpoints.rddId(b).get
    Checkpoints.releaseTracked(spark)
    assert(awaitReleased(Set(id)).isEmpty, "a boundary must be released by releaseTracked")
    assert(b.count() === 7L, "a released boundary recomputes from its lineage")
  }

  test("durable spillPath: pqFit cleans superseded codebook iterations and the slice table") {
    import graft.operators.Pq
    import spark.implicits._
    val rng = new scala.util.Random(9)
    val vecs = (0L until 48L).map(i => (i, Array.fill(8)(rng.nextGaussian().toFloat)))
      .toDF("id", "vector")
    val root = java.nio.file.Files.createTempDirectory("pq-spill").toString
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val codebooks = Pq.pqFit(vecs, dim = 8, m = 2, k = 4, iters = 2, spillPath = Some(root))
    assert(spark.sparkContext.getPersistentRDDs.keySet === before)
    val left = new java.io.File(root).listFiles().map(_.getName).toSet
    assert(left === Set("codebooks_2"), s"only the final codebooks may survive, found $left")
    assert(codebooks.count() === 8) // m=2 blocks x k=4 cells
  }
}
