package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.functions.Distances
import graft.hnsw.{Hnsw, HnswParams, IndexMeta}
import graft.operators.Knn

/** Locality-sharded build + centroid-routed ANN ([[Hnsw.buildRouted]] /
  * [[Hnsw.annQueryRouted]]) and the sub-graph-size auto-ef budget
  * ([[Hnsw.efBudget]]).
  */
class HnswRoutedSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val input = spark.read.parquet(s"$dir/embeddings.parquet")
    .select(col("vec_id").as("id"), col("embedding").as("vector"))
  private lazy val params = HnswParams(dim = 64, m = 8, efConstruction = 64, numPartitions = 4)
  private lazy val routed = Hnsw.buildRouted(input, params, cellsPerShard = 4)
  private lazy val queries = input.filter(col("id") % 50 === 0).select(col("id").as("qid"), col("vector"))

  test("buildRouted: shards are balanced (locality pack) and the routing table covers every cell") {
    val sizes = routed.nodes.groupBy("pid").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(sizes.keySet === (0 until params.numPartitions).toSet, "every shard populated")
    val mean = sizes.values.sum.toDouble / sizes.size
    assert(sizes.values.max <= 2 * mean, s"worst shard ${sizes.values.max} vs mean $mean — FFD pack failed")
    val cents = routed.centroids.getOrElse(fail("routed index must carry a centroid table"))
    assert(cents.count() === params.numPartitions.toLong * 4)
    assert(cents.select("pid").distinct().count() === params.numPartitions.toLong,
      "every shard owns at least one cell")
    // every vector present; spill stores border vectors twice (bounded),
    // but num_nodes counts distinct vectors
    val nIn = input.count()
    val nRows = routed.nodes.count()
    assert(routed.nodes.select("id").distinct().count() === nIn)
    assert(nRows >= nIn && nRows <= 2 * nIn, s"spill duplication $nRows/$nIn out of bounds")
    assert(routed.meta.num_nodes === nIn)
    // no duplicate id within one shard (would double-insert into a sub-graph)
    assert(routed.nodes.groupBy("id", "pid").count().filter(col("count") > 1).count() === 0)
  }

  test("annQueryRouted at probeCells=C is bit-equal to the all-shard search") {
    val all = Hnsw.annQueryLarge(routed, queries, k = 10)
      .collect().map(_.toSeq).toSet
    val routedAll = Hnsw.annQueryRouted(routed, queries, k = 10, probeCells = 16)
      .collect().map(_.toSeq).toSet
    assert(routedAll === all, "probing every cell must degenerate to the all-shard result")
  }

  test("resident shards: annQueryRouted is bit-identical to a per-call rebuild of its probed shards") {
    import spark.implicits._
    val qs = input.filter(col("id") % 45 === 3).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val qDf = qs.toDF("qid", "vector")
    val ef = 24
    // P <= cores (one shard per slot) and P > cores (two shards per slot)
    Seq(routed, Hnsw.buildRouted(input, params.copy(numPartitions = 8), cellsPerShard = 4)).foreach { base =>
      val p = base.meta.num_partitions
      val cells = base.meta.num_cells
      // a streaming-appended batch lands in shards with pid >= P
      val dir = Files.createTempDirectory("hnsw-resident-routed").toString
      Hnsw.save(base, dir, autoCalibrate = false)
      graft.streaming.StreamingOps.appendBatchRouted(
        input.filter(col("id") % 4 === 1).select((col("id") + 1000000L).as("id"), col("vector")),
        dir, params.copy(numPartitions = p), batchId = 0L)
      val appended = Hnsw.load(spark, dir)
      assert(appended.nodes.filter(col("pid") >= p).count() > 0)
      val cases = Seq(
        "plain" -> base,
        "deleted" -> Hnsw.delete(base, qs.take(3).map(_._1)),
        "appended" -> appended,
        "filter view" -> Hnsw.withAllowed(base, input.filter(col("id") % 3 =!= 1).select("id")))
      cases.foreach { case (name, idx) =>
        Seq(cells / 4, cells).foreach { probe =>
          val probed = Hnsw.probedPidsFor(idx, qDf, probe).collect()
            .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getInt(1)).toSet }
          val want = HnswSparkSpec.rebuildReference(idx, qs, k = 7, ef,
            pidsOf = q => pid => probed.getOrElse(q, Set.empty[Int]).contains(pid))
          assert(want.nonEmpty, name)
          assert(Hnsw.annQueryRouted(idx, qDf, k = 7, probeCells = probe, ef = ef)
            .collect().map(_.toSeq).toSet === want, s"P=$p $name at probe $probe")
        }
      }
      assert(Hnsw.annQueryRouted(appended, qDf, k = 7, probeCells = cells, ef = ef).collect()
        .exists(_.getLong(2) >= 1000000L), s"P=$p: appended shards must be searched")
      // the spill-assigned index stores border vectors in two shards: the
      // all-shard paths search both copies, and the merge's duplicate-id
      // collapse keeps each id to one rank
      assert(base.nodes.count() > base.nodes.select("id").distinct().count(), "no spill copies: premise broken")
      val want = HnswSparkSpec.rebuildReference(base, qs, k = 7, ef)
      Seq("annQuery" -> Hnsw.annQuery(base, qDf, k = 7, ef = ef),
          "annQueryBatch" -> Hnsw.annQueryBatch(base, qs.toArray, k = 7, ef = ef),
          "annQueryLarge" -> Hnsw.annQueryLarge(base, qDf, k = 7, ef = ef)).foreach { case (name, df) =>
        val rows = df.collect().map(_.toSeq)
        assert(rows.toSet === want, s"P=$p spill-assigned: $name")
        assert(rows.length === rows.map(r => (r(0), r(2))).distinct.length, s"P=$p $name: an id took two ranks")
      }
    }
  }

  test("resident shards: a first routed call builds only the shards it probes") {
    val base = Hnsw.buildRouted(input, params.copy(numPartitions = 8), cellsPerShard = 4)
    assert(base.resident.graphs.slots < base.meta.num_partitions, "needs slots holding several shards")
    val q = input.filter(col("id") === 7L).select(col("id").as("qid"), col("vector"))
    val probed = Hnsw.probedPidsFor(base, q, probeCells = 1).collect().map(_.getInt(1)).toSet
    assert(probed.size === 1)
    val loads = graft.hnsw.ShardRegistry.loads.get()
    assert(Hnsw.annQueryRouted(base, q, k = 5, probeCells = 1).collect().nonEmpty)
    assert(graft.hnsw.ShardRegistry.loads.get() - loads === 1L, "only the probed shard may be built")
    // a later all-shard call builds the rest, once
    assert(Hnsw.annQueryLarge(base, q, k = 5).collect().nonEmpty)
    val shards = base.nodes.select("pid").distinct().count()
    assert(graft.hnsw.ShardRegistry.loads.get() - loads === shards)
    assert(Hnsw.annQuery(base, q, k = 5).collect().nonEmpty)
    assert(graft.hnsw.ShardRegistry.loads.get() - loads === shards)
    // two queries whose probes reach two shards of one slot build each of
    // them once, on a fresh index, and no other shard
    val fresh = Hnsw.buildRouted(input, params.copy(numPartitions = 8), cellsPerShard = 4)
    val slots = fresh.resident.graphs.slots
    val cands = input.filter(col("id") % 10 === 3).select(col("id").as("qid"), col("vector"))
    val pidOf = Hnsw.probedPidsFor(fresh, cands, probeCells = 1).collect().map(r => r.getLong(0) -> r.getInt(1))
    val pair = pidOf.combinations(2).find(c => c(0)._2 != c(1)._2 && c(0)._2 % slots == c(1)._2 % slots)
    assert(pair.nonEmpty, "no two queries probe two shards of one slot: premise broken")
    val qs = cands.filter(col("qid").isin(pair.get.map(_._1): _*))
    val before = graft.hnsw.ShardRegistry.loads.get()
    assert(Hnsw.annQueryRouted(fresh, qs, k = 5, probeCells = 1).collect().nonEmpty)
    assert(graft.hnsw.ShardRegistry.loads.get() - before === 2L)
  }

  test("routed probe of a quarter of the cells keeps >=0.9x the all-shard recall at lower cost") {
    // sf0.01 (5k vectors): at sf0.001's 500 vectors a 16-cell split leaves
    // ~31 vectors/cell, so a query's top-10 intrinsically spans many cells
    // and ANY probe-limited search caps out — neighbor concentration, not
    // engine quality. 5k is the smallest SF where routing has signal.
    val in01 = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vector"))
    val idx01 = Hnsw.buildRouted(in01, params, cellsPerShard = 4)
    val q01 = in01.filter(col("id") % 50 === 0).select(col("id").as("qid"), col("vector"))
    val embD = in01.select(col("id"), Distances.toDouble(col("vector")).as("vector"))
    val qD = embD.filter(col("id") % 50 === 0).select(col("id").as("qid"), col("vector"))
    val exact = Knn.exactTopK(embD, qD, 10, Distances.l2)
    def recallOf(ann: org.apache.spark.sql.DataFrame): Double =
      Hnsw.recallAtK(ann, exact, 10).agg(avg("recall")).head().getDouble(0)
    val allShard = recallOf(Hnsw.annQueryLarge(idx01, q01, k = 10))
    val routedR = recallOf(Hnsw.annQueryRouted(idx01, q01, k = 10)) // default = C/4 cells
    assert(routedR >= 0.9 * allShard,
      s"routed recall $routedR vs all-shard $allShard — routing lost too much")
    // the routed path must actually prune: fewer (qid, pid) search pairs
    // than full replication
    val p = idx01.meta.num_partitions
    val nQ = q01.count()
    val cents = idx01.centroids.get
    val probed = graft.operators.Ivf.probesAgg(
        q01, cents.select("cid", "cvector"), 4, Distances.metric(idx01.meta.metric))
      .join(cents.select("cid", "pid"), "cid").select("qid", "pid").distinct().count()
    assert(probed < nQ * p, s"probed $probed pairs — no pruning vs all-shard ${nQ * p}")
    idx01.nodes.unpersist()
  }

  test("annQueryRoutedExact at probeCells=C is the exact top-k; fewer cells only lose routing recall") {
    // full probe brute-forces every shard — must equal the exact oracle
    // bit-for-bit (same metric column, same (dist, id) tiebreak)
    val uniq = routed.nodes.filter(!col("tombstone"))
      .groupBy(col("id")).agg(first(col("vector")).as("vector"))
    val exact = Knn.exactTopK(uniq, queries, 10, Distances.metric(routed.meta.metric))
      .collect().map(_.toSeq).toSet
    val full = Hnsw.annQueryRoutedExact(routed, queries, k = 10, probeCells = 16)
      .collect().map(_.toSeq).toSet
    assert(full === exact, "probeCells=C exact-probed search must BE the exact top-k")
    // a partial probe still finds each query's own vector at rank 1 /
    // dist 0 (the home cell is by assignment among the nearest cells, so
    // it is always probed) — brute force within probed shards cannot miss
    val part = Hnsw.annQueryRoutedExact(routed, queries, k = 10, probeCells = 4)
      .filter(col("rank") === 1).collect()
    assert(part.nonEmpty)
    part.foreach { r =>
      assert(r.getLong(2) === r.getLong(0) && r.getDouble(3) === 0.0,
        s"rank-1 of qid ${r.getLong(0)} is ${r.getLong(2)} at ${r.getDouble(3)}")
    }
  }

  test("annQueryRoutedRefined: expansion+rescore never loses recall vs the routed traversal") {
    val in01 = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vector"))
    // a deliberately DEGRADED graph (m=2, efc=4): the traversal must miss
    // neighbours, leaving headroom only the refine stage can claw back —
    // on a healthy sf0.01 graph even ef=12 is already at recall 1.0
    val degraded = HnswParams(dim = 64, m = 2, efConstruction = 4, numPartitions = 4)
    val idx01 = Hnsw.buildRouted(in01, degraded, cellsPerShard = 4)
    val q01 = in01.filter(col("id") % 50 === 0).select(col("id").as("qid"), col("vector"))
    val uniq = idx01.nodes.filter(!col("tombstone"))
      .groupBy(col("id")).agg(first(col("vector")).as("vector"))
    val exact = Knn.exactTopK(uniq, q01, 10, Distances.metric(idx01.meta.metric))
      .localCheckpoint()
    def recallOf(ann: org.apache.spark.sql.DataFrame): Double =
      Hnsw.recallAtK(ann, exact, 10).agg(avg("recall")).head().getDouble(0)
    val base = recallOf(Hnsw.annQueryRouted(idx01, q01, k = 10, probeCells = 16, ef = 10))
    val refined = recallOf(Hnsw.annQueryRoutedRefined(idx01, q01, k = 10, probeCells = 16,
      ef = 10, refine = 30, expandHops = 1))
    assert(refined >= base,
      s"refined recall $refined fell below the coarse traversal's $base")
    assert(base < 1.0, s"degraded graph still at recall $base — no headroom to test")
    assert(refined > base,
      s"refine stage added nothing at ef=10 (both $base) — expansion is not wired")
    // hops=0, refine=k degenerates to the routed traversal's candidate set:
    // the per-query id sets must agree (distances are recomputed exactly,
    // so compare membership, not float bits)
    val coarseIds = Hnsw.annQueryRouted(idx01, q01, k = 10, probeCells = 16, ef = 64)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val degenIds = Hnsw.annQueryRoutedRefined(idx01, q01, k = 10, probeCells = 16, ef = 64,
      refine = 10, expandHops = 0)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(degenIds === coarseIds, "hops=0/refine=k must return the traversal's own ids")
    idx01.nodes.unpersist()
  }

  test("annQueryAdaptive: both regimes bit-equal their plan; chooser picks one of the two") {
    // FORCED fallback: fallbackFraction=0 makes the union condition always
    // true and a 1-query batch is always rebuild-dominated (q·ef ≪ nSub) —
    // must be bit-equal to annQueryLarge on the same index
    val oneQ = queries.limit(1)
    val adaptive = Hnsw.annQueryAdaptive(routed, oneQ, k = 10, fallbackFraction = 0.0)
      .collect().map(_.toSeq).toSet
    val all = Hnsw.annQueryLarge(routed, oneQ, k = 10)
      .collect().map(_.toSeq).toSet
    assert(adaptive === all, "fallback regime must be bit-equal to the all-shard search")
    // FORCED routed: a threshold above any possible union fraction — must
    // be bit-equal to the always-routed path
    val routedForced = Hnsw.annQueryRouted(routed, queries, k = 10, probeCells = 1)
      .collect().map(_.toSeq).toSet
    val adaptiveRouted = Hnsw.annQueryAdaptive(routed, queries, k = 10, probeCells = 1,
      fallbackFraction = 1.1)
      .collect().map(_.toSeq).toSet
    assert(adaptiveRouted === routedForced,
      "routed regime must be bit-equal to the always-routed search")
    // default chooser: whatever it picks must be one of the two plans'
    // exact results (the decision is data-dependent; the plans are not)
    val auto = Hnsw.annQueryAdaptive(routed, queries, k = 10)
      .collect().map(_.toSeq).toSet
    val routedRes = Hnsw.annQueryRouted(routed, queries, k = 10).collect().map(_.toSeq).toSet
    val allRes = Hnsw.annQueryLarge(routed, queries, k = 10).collect().map(_.toSeq).toSet
    assert(auto === routedRes || auto === allRes,
      "adaptive must execute exactly one of the two underlying plans")
    // a non-routed index has no probe table: adaptive must degrade to the
    // all-shard path instead of throwing
    val plain = Hnsw.build(input, params)
    val plainAdaptive = Hnsw.annQueryAdaptive(plain, queries, k = 10)
      .collect().map(_.toSeq).toSet
    val plainAll = Hnsw.annQueryLarge(plain, queries, k = 10)
      .collect().map(_.toSeq).toSet
    assert(plainAdaptive === plainAll)
  }

  test("appended shards: rebuild volume is per-pid weighted, flipping rebuild-dominated") {
    val dir = Files.createTempDirectory("adaptive-append").toString
    Hnsw.save(routed, dir)
    // several tiny batches: distinct pids grow past P while meta.num_nodes
    // stays the home build's count — the long-streamed shape
    for (b <- 0 until 4) {
      val batch = input.filter(col("id") % 20 === b)
        .select((col("id") + lit(10000L * (b + 1))).as("id"), col("vector"))
      graft.streaming.StreamingOps.appendBatchRouted(batch, dir, params, batchId = b.toLong)
    }
    val appended = Hnsw.load(spark, dir)
    val totalPids = appended.centroids.get.select("pid").distinct().count()
    assert(totalPids > params.numPartitions.toLong, "appends must add pid blocks")
    val nSub = appended.meta.num_nodes / appended.meta.num_partitions
    // worst-case probe: every routed pid
    val probed = appended.centroids.get.select(lit(0L).as("qid"), col("pid")).distinct()
    val naive = nSub * totalPids
    val weighted = Hnsw.probedRebuildVolume(appended, probed, nSub, totalPids, totalPids)
    assert(weighted === appended.nodes.count(),
      "a full-union probe's weighted volume is exactly the node table")
    assert(weighted < naive,
      s"mean-size estimate $naive must overstate the appended index's $weighted")
    // any search budget between the two flips the rebuild-dominated
    // verdict: the naive model would fall back, the weighted one routes
    val budget = (weighted + naive) / 2
    assert(budget < naive && budget >= weighted)
  }

  test("adaptive short-circuit: a search-dominated batch skips the eager probe decision") {
    // force fixtures before counting jobs
    routed.nodes.count(); queries.count()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // ef=600 makes q·ef = 10·600 ≫ nSub·P = 500: search-dominated for
      // ANY probe outcome — construction must run only the two tiny count
      // jobs, leaving the probe lazy (fused into the search job)
      val sc = Hnsw.annQueryAdaptive(routed, queries, k = 10, ef = 600)
      Thread.sleep(500)
      val scJobs = jobs.get()
      // a 1-query batch at default ef is rebuild-dominated: the eager
      // probe decision (checkpoint + stats agg) must cost strictly more
      // construction jobs than the short-circuit did
      jobs.set(0)
      Hnsw.annQueryAdaptive(routed, queries.limit(1), k = 10, fallbackFraction = 0.0)
      Thread.sleep(500)
      val eagerJobs = jobs.get()
      assert(scJobs < eagerJobs,
        s"short-circuit construction ran $scJobs jobs, eager decision $eagerJobs — " +
          "the search-dominated batch must skip the probe materialization")
      // and the short-circuited plan is the always-routed plan, bit-exact
      val exp = Hnsw.annQueryRouted(routed, queries, k = 10, ef = 600)
        .collect().map(_.toSeq).toSet
      assert(sc.collect().map(_.toSeq).toSet === exp)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("save/load round-trips the routing table; routed query works after load") {
    val tmp = Files.createTempDirectory("hnsw-routed-io").toString
    Hnsw.save(routed, tmp)
    val loaded = Hnsw.load(spark, tmp)
    assert(loaded.centroids.isDefined, "load must pick up the persisted centroid table")
    assert(loaded.meta === routed.meta)
    val before = Hnsw.annQueryRouted(routed, queries, 5).collect().map(_.toSeq).toSet
    val after = Hnsw.annQueryRouted(loaded, queries, 5).collect().map(_.toSeq).toSet
    assert(before === after)
    // a plain id%P index refuses routed queries loudly
    val plain = Hnsw.build(input, params)
    val err = intercept[IllegalArgumentException] {
      Hnsw.annQueryRouted(plain, queries, 5)
    }
    assert(err.getMessage.contains("no centroid routing table"))
  }

  test("rebuildRouted reclaims deletes, collapses spill copies, and keeps the routed path") {
    val deleted = Hnsw.delete(routed, Seq(0L, 50L, 100L))
    val fresh = Hnsw.rebuildRouted(deleted, params, cellsPerShard = 4)
    assert(fresh.centroids.isDefined, "rebuild of a routed index must stay routed")
    val ids = fresh.nodes.select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(!ids.contains(0L) && !ids.contains(50L) && !ids.contains(100L), "deleted mass reclaimed")
    assert(fresh.meta.num_nodes === input.count() - 3)
    // no duplicate (id, pid): spill copies from the OLD index never leak
    // double inserts into the new build
    assert(fresh.nodes.groupBy("id", "pid").count().filter(col("count") > 1).count() === 0)
    // routed query works against the rebuilt index
    val q = queries.filter(col("qid") =!= 0L && col("qid") =!= 50L && col("qid") =!= 100L)
    val rank1 = Hnsw.annQueryRouted(fresh, q, k = 3).filter(col("rank") === 1).collect()
    assert(rank1.nonEmpty)
    rank1.foreach(r => assert(r.getAs[Long]("qid") === r.getAs[Long]("id")))
    fresh.nodes.unpersist()
  }

  test("cosine-metric routed index: build, probe and self-match all respect the metric") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    val vecs = (0L until 600L).map(i => (i, Array.fill(16)(rng.nextGaussian().toFloat)))
    val cosParams = HnswParams(dim = 16, m = 4, efConstruction = 32,
      metric = "cosine", numPartitions = 2)
    val idx = Hnsw.buildRouted(vecs.toDF("id", "vector"), cosParams, cellsPerShard = 2)
    assert(idx.meta.metric === "cosine" && idx.centroids.isDefined)
    val qs = vecs.filter(_._1 % 100 == 0).map { case (i, v) => (i, v) }.toDF("qid", "vector")
    val rank1 = Hnsw.annQueryRouted(idx, qs, k = 3).filter(col("rank") === 1).collect()
    assert(rank1.length === 6)
    rank1.foreach { r =>
      assert(r.getAs[Long]("qid") === r.getAs[Long]("id"), "cosine self-match at rank 1")
      assert(math.abs(r.getAs[Double]("dist")) < 1e-12)
    }
    // full-probe degenerates to all-shard under cosine too
    val all = Hnsw.annQueryLarge(idx, qs, 3).collect().map(_.toSeq).toSet
    val routedAll = Hnsw.annQueryRouted(idx, qs, 3, probeCells = 4).collect().map(_.toSeq).toSet
    assert(routedAll === all)
    idx.nodes.unpersist()
  }

  test("CLI: --build --routed / --load --routed round-trip through Main.run") {
    val out = java.nio.file.Files.createTempDirectory("cli-routed").toString + "/idx"
    graft.Main.run(spark, Map("build" -> "true", "routed" -> "true",
      "n" -> "500", "dim" -> "8", "out" -> out, "partitions" -> "2", "efc" -> "32", "M" -> "4"))
    val meta = Hnsw.loadMeta(out)
    assert(meta.num_cells === 8, "CLI routed build must persist the routing table + cell count")
    // routed query path through the CLI (default: index's own first vector)
    graft.Main.run(spark, Map("load" -> out, "routed" -> "true", "k" -> "3"))
    // and the result parquet shape via --out
    val resDir = java.nio.file.Files.createTempDirectory("cli-routed-res").toString + "/res"
    graft.Main.run(spark, Map("load" -> out, "routed" -> "true", "k" -> "3", "out" -> resDir))
    val res = spark.read.parquet(resDir)
    assert(res.columns.sorted.toSeq === Seq("dist", "id", "qid", "rank"))
    assert(res.filter(col("rank") === 1).head().getAs[Double]("dist") === 0.0)
    // eval-recall on the routed dir: spill copies must not double-count in
    // the exact oracle or duplicate queries (runs the routed query path)
    graft.Main.run(spark, Map("eval-recall" -> out, "k" -> "3", "sample-mod" -> "100"))
    // --compact on a routed dir: keeps cell geometry and the routed path
    // (params reconstructed from meta — no build flags needed)
    val out2 = java.nio.file.Files.createTempDirectory("cli-routed-c").toString + "/idx"
    graft.Main.run(spark, Map("compact" -> out, "out" -> out2))
    val meta2 = Hnsw.loadMeta(out2)
    assert(meta2.num_cells === meta.num_cells, "compact must keep the routing geometry")
    assert(meta2.num_nodes === meta.num_nodes)
    graft.Main.run(spark, Map("load" -> out2, "routed" -> "true", "k" -> "3"))
    // --exact-probe and --refine through the CLI: self-query must hit
    // itself at rank 1 / dist 0 on both paths (full probe; R > k)
    for (extra <- Seq(Map("exact-probe" -> "true"), Map("refine" -> "9", "hops" -> "1"))) {
      val d = java.nio.file.Files.createTempDirectory("cli-routed-x").toString + "/res"
      graft.Main.run(spark, Map("load" -> out, "k" -> "3", "probe-cells" -> "8",
        "out" -> d) ++ extra)
      val r = spark.read.parquet(d).filter(col("rank") === 1).head()
      assert(r.getAs[Long]("id") === r.getAs[Long]("qid"))
      assert(r.getAs[Double]("dist") === 0.0)
    }
    // NO path flag on a routed index: the regime-aware chooser runs (low
    // dim here → a traversal plan, self-match intact)
    val dAuto = java.nio.file.Files.createTempDirectory("cli-routed-auto").toString + "/res"
    graft.Main.run(spark, Map("load" -> out, "k" -> "3", "out" -> dAuto))
    val rAuto = spark.read.parquet(dAuto).filter(col("rank") === 1).head()
    assert(rAuto.getAs[Long]("id") === rAuto.getAs[Long]("qid"))
    assert(rAuto.getAs[Double]("dist") === 0.0)
  }

  test("filtered ANN composes with the routed path: filter respected, recall held, pruning intact") {
    val allowed = input.filter(col("id") % 3 === 0).select("id")
    val allowedSet = allowed.collect().map(_.getLong(0)).toSet
    // selectivity ~1/3 → ef widened ~3× (see annQueryFiltered scaladoc);
    // probe every cell so the only approximation under test is the filter
    val ann = Hnsw.annQueryFiltered(routed, queries, k = 10, allowed,
      ef = 192, routed = true, probeCells = 16)
    val rows = ann.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(allowedSet.contains(r.getAs[Long]("id")),
      s"id ${r.getAs[Long]("id")} violates the filter on the routed path"))
    val embD = input.select(col("id"), Distances.toDouble(col("vector")).as("vector"))
    val qD = embD.filter(col("id") % 50 === 0).select(col("id").as("qid"), col("vector"))
    val exact = Knn.exactTopK(embD.join(allowed, "id"), qD, 10, Distances.l2)
    val recall = Hnsw.recallAtK(ann, exact, 10).agg(avg("recall")).head().getDouble(0)
    assert(recall >= 0.8, s"routed filtered avg recall@10 $recall")
    // a quarter probe still prunes: results stay inside the filter and
    // every query returns k rows (filter-as-tombstone routes through,
    // never disconnects)
    val quarter = Hnsw.annQueryFiltered(routed, queries, k = 10, allowed,
      ef = 192, routed = true, probeCells = 4)
    val counts = quarter.groupBy("qid").count().collect().map(_.getLong(1))
    assert(counts.nonEmpty && counts.forall(_ === 10L))
    quarter.collect().foreach(r => assert(allowedSet.contains(r.getAs[Long]("id"))))
    // exact-probed + filter at full probe IS the filtered exact top-k —
    // no ef widening, no selectivity-recall trade (bit-level id/rank sets)
    val exactProbed = Hnsw.annQueryFiltered(routed, queries, k = 10, allowed,
      exactProbe = true, probeCells = 16)
      .select("qid", "rank", "id").collect().map(_.toSeq).toSet
    assert(exactProbed === exact.select("qid", "rank", "id").collect().map(_.toSeq).toSet,
      "full-probe exact-probed filtered search must BE the filtered exact top-k")
    // adaptive over the filtered view: results stay inside the filter
    val adapt = Hnsw.annQueryFiltered(routed, queries, k = 10, allowed,
      ef = 192, adaptive = true)
    adapt.collect().foreach(r => assert(allowedSet.contains(r.getAs[Long]("id"))))
  }

  test("CalCurve.pickWithMargin: smallest probe at target + one clustered sd; no margin at nQueries<=0; caps at 1.0; never below the bare pick") {
    import graft.hnsw.CalCurve
    val curve = CalCurve(10, Seq((1, 0.5), (2, 0.90), (3, 0.93), (4, 0.97), (5, 1.0)))
    assert(curve.pick(0.9, 8) === 2)
    // sd at 100 queries = sqrt(0.9*0.1/100) = 0.03 → effective target 0.93
    assert(curve.pickWithMargin(0.9, 8, 100) === 3)
    // sd at 25 queries = 0.06 → effective target 0.96
    assert(curve.pickWithMargin(0.9, 8, 25) === 4)
    // degenerate sample count: no margin, the bare pick
    assert(curve.pickWithMargin(0.9, 8, 0) === 2)
    // target + sd past 1.0 caps at 1.0 (the curve tail), not full probe
    assert(curve.pickWithMargin(0.999, 8, 4) === 5)
    for (nq <- Seq(1L, 10L, 100L, 10000L))
      assert(curve.pickWithMargin(0.9, 8, nq) >= curve.pick(0.9, 8),
        s"margined pick at $nq queries fell below the bare pick")
  }

  test("calibrateFiltered: measures on the filtered pair population, ignores attached curves, pick clears the target") {
    import graft.hnsw.CalCurve
    val allowed = input.filter(col("id") % 7 === 0).select("id")
    // an attached (unfiltered-looking) curve must NOT short-circuit the
    // filtered measurement — that silent unfiltered pick is the exact
    // misprediction the hard contract exists to replace
    val decoy = routed.copy(calibration = Seq(CalCurve(10, Seq((1, 1.0)))))
    val (pick, curveDf) = Hnsw.calibrateFiltered(decoy, allowed, k = 10,
      recallTarget = 0.9, sampleQueries = 50)
    val pts = curveDf.orderBy("probe_cells").collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSeq
    assert(pts !== Seq((1, 1.0)),
      "calibrateFiltered must measure the filtered view, not echo the attached curve")
    assert(pts.nonEmpty && math.abs(pts.last._2 - 1.0) < 1e-9,
      "filtered curve must be a full cumulative distribution to 1.0")
    assert(pick >= 1 && pick <= routed.meta.num_cells)
    // the pick carries the one-clustered-sd selection margin (VERDICT r15:
    // bare min-probe-at-target picks undershoot held-out recall) — it must
    // BE pickWithMargin at the TRUE calibration sample size (measureCurves'
    // id-modulus rule over the filtered live rows), and so can never fall
    // below the bare min-probe pick
    val liveAllowedIds = routed.nodes.filter(!col("tombstone"))
      .join(broadcast(allowed), Seq("id"), "left_semi")
      .select("id").distinct().collect().map(_.getLong(0))
    val stepS = math.max(1L, liveAllowedIds.length.toLong / 50L)
    val class0 = liveAllowedIds.count(_ % stepS == 0).toLong
    val qReal = if (class0 > 0) class0 else math.min(50L, liveAllowedIds.length.toLong)
    val measuredCurve = CalCurve(10, pts, qReal)
    assert(pick === measuredCurve.pickWithMargin(0.9, routed.meta.num_cells),
      s"filtered pick must be the margined pick at the true sample size $qReal")
    assert(pick >= measuredCurve.pick(0.9, routed.meta.num_cells))
    // the pick's MEASURED filtered recall clears the target: queries =
    // the filtered view's own sample rule (live allowed ids, modulus of
    // the filtered count), oracle = exact top-k among allowed
    val allowedSet = allowed.collect().map(_.getLong(0)).toSet
    val live = routed.nodes.filter(!col("tombstone"))
      .filter(col("id").isin(allowedSet.toSeq.map(java.lang.Long.valueOf): _*))
      .groupBy(col("id")).agg(first(col("vector")).as("vector"))
    val nF = live.count()
    val step = math.max(1L, nF / 50L)
    val qs = live.filter(col("id") % step === 0)
      .select(col("id").as("qid"), col("vector"))
    val exact = Knn.exactTopK(live, qs, 10, Distances.metric(routed.meta.metric))
    val ann = Hnsw.annQueryFiltered(routed, qs, k = 10, allowed,
      exactProbe = true, probeCells = pick)
    val measured = Hnsw.recallAtK(ann, exact, 10).agg(avg("recall")).head().getDouble(0)
    assert(measured >= 0.9 - 0.02,
      s"filtered pick $pick must clear the 0.9 target on the filtered view, got $measured")
  }

  test("efBudget: explicit ef wins; default derives from sub-graph size; k floor; 4096 cap") {
    def meta(n: Long, p: Int) = IndexMeta(64, 8, 16, 64, 50, 0.36, "l2", 0L, 1, p, n)
    // explicit ef always wins, clamped to k
    assert(Hnsw.efBudget(meta(5_000_000, 16), k = 10, ef = 200) === 200)
    assert(Hnsw.efBudget(meta(5_000_000, 16), k = 300, ef = 200) === 300)
    // small sub-graphs keep the ef_search default
    assert(Hnsw.efBudget(meta(8_000, 4), k = 10, ef = -1) === 50)
    // the 5M/16 BENCH_SCALE case: 312k-node sub-graphs -> 1562, not 50
    assert(Hnsw.efBudget(meta(5_000_000, 16), k = 10, ef = -1) === 1562)
    // the measured ef=800-at-156k point sits on the nSub/200 line
    assert(Hnsw.efBudget(meta(2_500_000, 16), k = 10, ef = -1) === 781)
    // capped so a single-shard billion-row meta cannot explode the heap
    assert(Hnsw.efBudget(meta(2_000_000_000L, 1), k = 10, ef = -1) === 4096)
    // unknown num_nodes (old meta.json) -> plain ef_search
    assert(Hnsw.efBudget(meta(-1, 16), k = 10, ef = -1) === 50)
  }

  test("traversalDecays: the measured dim-512 regimes pin the chooser (meta-only, job-free)") {
    def meta(dim: Int, n: Long, p: Int) = IndexMeta(dim, 12, 24, 100, 50, 0.4,
      "cosine", 0L, 3, p, n, 4 * p)
    // 5M×512, P=64 (nSub 78k): ef=800 measured recall@10 0.626 — decayed
    assert(Hnsw.traversalDecays(meta(512, 5_000_000L, 64), k = 10, ef = 800))
    // 1M×512 (nSub 15.6k): ef=800 measured 0.952 — traversal healthy
    assert(!Hnsw.traversalDecays(meta(512, 1_000_000L, 64), k = 10, ef = 800))
    // the NO-FLAG operating points: default ef budget decays at both 1M
    // and 5M ×512 (budget 78/390 — exact-probed measured 0.945/0.950
    // there vs a traversal that would need ef≥800 it is not given)
    assert(Hnsw.traversalDecays(meta(512, 5_000_000L, 64), k = 10, ef = -1))
    assert(Hnsw.traversalDecays(meta(512, 1_000_000L, 64), k = 10, ef = -1))
    // low dim never decays, at any size (dim-64 proofs: recall ≥ 0.92)
    assert(!Hnsw.traversalDecays(meta(64, 100_000_000L, 64), k = 10, ef = 200))
    // unknown node count: no decay claim (conservative)
    assert(!Hnsw.traversalDecays(meta(512, -1L, 64), k = 10, ef = 200))
  }

  test("annQueryAdaptive decay tier: auto path IS the pruned exact scan at the decayed point, traversal otherwise") {
    // dim 300 ≥ the high-dim bound; nSub = 400/4 = 100. ef=2 (budget 2,
    // k=1): 100 ≥ 40·2 → decayed. ef=50: 100 < 2000 → traversal tiers.
    val in300 = graft.sources.Datagen.hashVectors(spark, 400L, 300)
    val p300 = HnswParams(dim = 300, m = 4, efConstruction = 16,
      metric = "cosine", numPartitions = 4)
    val idx = Hnsw.buildRouted(in300, p300, cellsPerShard = 4)
    // ≥ ScanMinQueries queries so the chooser amortizes the scan's dedup
    // shuffle; hashVectors is a pure function of id, so qids 0..399 are
    // exactly the indexed vectors (self-match assertable) and 400..599
    // are out-of-index probes of the same distribution
    val q = graft.sources.Datagen.hashVectors(spark, 600L, 300)
      .select(col("id").as("qid"), col("vector"))
    assert(Hnsw.traversalDecays(idx.meta, k = 1, ef = 2))
    assert(!Hnsw.traversalDecays(idx.meta, k = 1, ef = 50))
    val dec = Hnsw.annQueryAdaptive(idx, q, k = 1, ef = 2)
    val decPlan = dec.queryExecution.executedPlan.toString
    assert(!decPlan.contains("MapGroups") && !decPlan.contains("CoGroup") &&
      !decPlan.contains(Hnsw.ShardSearchName),
      "decay regime must not rebuild sub-graphs — brute force within probed shards")
    // 600 uniform queries probing C/4 cells cover the union per query —
    // the scan side of the decision (exact-scan when the union reaches
    // every shard, pruned-scan when it leaves some out)
    assert(Set("pruned-scan", "exact-scan").contains(Hnsw.lastDecayPick.get()),
      s"decayed large-batch pick must be a scan form, got ${Hnsw.lastDecayPick.get()}")
    assert(dec.collect().map(_.toSeq).toSet ===
      Hnsw.annQueryPrunedExact(idx, q, k = 1).collect().map(_.toSeq).toSet,
      "decay-regime adaptive must BE the pruned-exact-scan result")
    // exactness within probed shards: every IN-INDEX query self-matches
    // at rank 1 (cosine self-distance is 1 − dot/(‖·‖·‖·‖) — a ≤1-ulp
    // residual, not the exact 0.0 of the L2 metric's self-match)
    val selfRows = dec.filter(col("qid") < 400).collect()
    assert(selfRows.nonEmpty)
    selfRows.foreach { r =>
      assert(r.getLong(2) === r.getLong(0) && math.abs(r.getDouble(3)) < 1e-12)
    }
    // a SMALL decayed batch amortizes no shuffle: the join form
    val small = Hnsw.annQueryAdaptive(idx, q.limit(10), k = 1, ef = 2)
    small.count()
    assert(Hnsw.lastDecayPick.get() === "probed-broadcast",
      s"small decayed batch must take the probed join, got ${Hnsw.lastDecayPick.get()}")
    // healthy ef at the same call site: the traversal plan (sub-graph
    // search operator present), same decision inputs otherwise
    val trav = Hnsw.annQueryAdaptive(idx, q, k = 1, ef = 50)
    val travPlan = trav.queryExecution.executedPlan.toString
    assert(travPlan.contains(Hnsw.ShardSearchName),
      "non-decayed regime must keep the graph traversal")
    idx.nodes.unpersist()
  }

  test("annQueryPrunedExact: full probe IS the exact top-k; partial probe is a superset of the probed join's candidates") {
    val uniq = routed.nodes.filter(!col("tombstone"))
      .groupBy(col("id")).agg(first(col("vector")).as("vector"))
    val exact = Knn.exactTopK(uniq, queries, 10, Distances.metric(routed.meta.metric))
      .collect().map(_.toSeq).toSet
    val full = Hnsw.annQueryPrunedExact(routed, queries, k = 10, probeCells = 16)
      .collect().map(_.toSeq).toSet
    assert(full === exact, "full-probe pruned scan must BE the exact top-k")
    // partial probe: each query scans the UNION of the batch's probed
    // shards — a superset of its own — so per-query recall vs exact can
    // only be ≥ the per-query probed join's at the same probe
    val exactDf = Knn.exactTopK(uniq, queries, 10, Distances.metric(routed.meta.metric))
    def recallOf(ann: org.apache.spark.sql.DataFrame): Double =
      Hnsw.recallAtK(ann, exactDf, 10).agg(avg("recall")).head().getDouble(0)
    val scanR = recallOf(Hnsw.annQueryPrunedExact(routed, queries, k = 10, probeCells = 2))
    val joinR = recallOf(Hnsw.annQueryRoutedExact(routed, queries, k = 10, probeCells = 2))
    assert(scanR >= joinR,
      s"union-scan recall $scanR must dominate per-query probed join $joinR")
    // single query: the union IS that query's probed shards — bit-equal
    val one = queries.limit(1)
    assert(Hnsw.annQueryPrunedExact(routed, one, k = 10, probeCells = 4)
      .collect().map(_.toSeq).toSet ===
      Hnsw.annQueryRoutedExact(routed, one, k = 10, probeCells = 4)
        .collect().map(_.toSeq).toSet)
  }

  test("decay tier scan-vs-join: a batch probing few shards per query across a wide union takes the probed JOIN") {
    // 8 shards, 1 cell each, probeCells=1: each query probes exactly one
    // shard. Queries spread over all 8 shards → union=8, routeRows=q —
    // q·union = 8q > scanJoinCostRatio(g)·q (≤ 6.6q at any g) → the join form
    // (this is the many-queries-in-many-DISTINCT-clusters regime where
    // per-query restriction genuinely beats scanning the union)
    val in300 = graft.sources.Datagen.hashVectors(spark, 800L, 300)
    val p300 = HnswParams(dim = 300, m = 4, efConstruction = 16,
      metric = "cosine", numPartitions = 8)
    val idx = Hnsw.buildRouted(in300, p300, cellsPerShard = 1)
    // EVERY vector queries at probeCells=1: each probes exactly its own
    // nearest cell (one pid), so routeRows = q = 800 ≥ ScanMinQueries
    // (the shuffle-amortization gate passes) while the union spans ≥ 7
    // shards — q·union ≥ 800·7 > scanJoinCostRatio(g)·800 (≤ 6.6): the COVERAGE rule
    // itself must send this sparse-per-query batch to the join form
    val q = in300.select(col("id").as("qid"), col("vector"))
    assert(Hnsw.traversalDecays(idx.meta, k = 1, ef = 2))
    val dec = Hnsw.annQueryAdaptive(idx, q, k = 1, ef = 2, probeCells = 1)
    assert(Hnsw.lastDecayPick.get() === "probed-broadcast",
      "wide-union sparse-probe batch must take the per-query probed JOIN")
    assert(dec.collect().map(_.toSeq).toSet ===
      Hnsw.annQueryRoutedExact(idx, q, k = 1, probeCells = 1)
        .collect().map(_.toSeq).toSet,
      "join-form pick must BE the per-query exact-probed result")
    idx.nodes.unpersist()
  }

  test("calibrateProbeCells: monotone curve to 1.0; the pick's measured recall matches the prediction") {
    val (pc, curve) = Hnsw.calibrateProbeCells(routed, k = 10, recallTarget = 0.9,
      sampleQueries = 50)
    val rows = curve.orderBy("probe_cells").collect()
      .map(r => (r.getInt(0), r.getDouble(1)))
    assert(rows.nonEmpty && math.abs(rows.last._2 - 1.0) < 1e-9,
      "every true neighbour's shard is hit by probe C — the curve must end at 1.0")
    assert(rows.sliding(2).forall(p => p.length < 2 || p(0)._2 <= p(1)._2),
      "cumulative curve must be monotone")
    assert(pc >= 1 && pc <= 16)
    // the prediction models the probed-join mechanism EXACTLY: measured
    // recall of annQueryRoutedExact at the picked probe, on the same
    // sampled queries, equals the curve's value at that probe (ties at
    // rank k aside)
    val n = routed.meta.num_nodes
    val step = math.max(1L, n / 50L)
    val sample = routed.nodes.filter(!col("tombstone") && col("id") % step === 0)
      .groupBy(col("id")).agg(first(col("vector")).as("vector"))
      .select(col("id").as("qid"), col("vector"))
    val uniq = routed.nodes.filter(!col("tombstone"))
      .groupBy(col("id")).agg(first(col("vector")).as("vector"))
    val exact = Knn.exactTopK(uniq, sample, 10, Distances.metric(routed.meta.metric))
    val ann = Hnsw.annQueryRoutedExact(routed, sample, k = 10, probeCells = pc)
    val measured = Hnsw.recallAtK(ann, exact, 10).agg(avg("recall")).head().getDouble(0)
    val predicted = rows.takeWhile(_._1 <= pc).lastOption.map(_._2).getOrElse(0.0)
    assert(measured >= 0.9 - 0.02, s"picked probe $pc must clear the 0.9 target, got $measured")
    assert(math.abs(measured - predicted) <= 0.02,
      s"measured $measured vs predicted $predicted at probe $pc")
    // an impossible-to-miss target: 1.0 must pick a probe achieving 1.0
    val (pcFull, _) = Hnsw.calibrateProbeCells(routed, k = 10, recallTarget = 1.0,
      sampleQueries = 50)
    val annFull = Hnsw.annQueryRoutedExact(routed, sample, k = 10, probeCells = pcFull)
    assert(Hnsw.recallAtK(annFull, exact, 10).agg(avg("recall")).head().getDouble(0) === 1.0)
  }

  test("spillShareCap: ghost share bounded at the quantile, primaries unchanged, kept spills are the closest-to-boundary subset") {
    // isotropic high-dim data — the regime where the fixed (1+0.15) rule
    // saturates (98% ghost share measured at 5M×512): d2/d1 concentrates
    // near 1 so nearly every vector qualifies for a spill copy
    val base = graft.sources.Datagen.hashVectors(spark, 2000L, 256)
    val distFn = Distances.metric("l2")
    val cents = graft.operators.Ivf.kmeansFit(base, 16, 3, distFn)
    val n = 2000L
    val uncapped = Hnsw.assignToCells(base, cents, distFn, 0.15)
    val ghostsUncapped = uncapped.count() - n
    assert(ghostsUncapped > (0.5 * n).toLong,
      s"fixture must be in the saturated regime (got $ghostsUncapped ghosts)")
    val thr = Hnsw.spillRatioThreshold(base, cents, distFn, 0.15, 0.3, n)
    assert(thr < 1.15, "saturated regime must tighten the threshold")
    val capped = Hnsw.assignToCells(base, cents, distFn, 0.15, thr)
    val ghostsCapped = capped.count() - n
    assert(ghostsCapped <= (0.32 * n).toLong,
      s"ghost share must be bounded by the cap (got $ghostsCapped of $n)")
    assert(ghostsCapped > 0, "the closest border vectors must still spill")
    // primary assignment is untouched by the cap; the kept spill rows are
    // exactly a subset of the uncapped spill rows
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val (u, c) = (rows(uncapped), rows(capped))
    assert(c.toSet.subsetOf(u.toSet), "capped assignment must be a subset")
    // multiset primary check: every id appears in both; the capped run
    // keeps each id's primary cell (subset + per-id counts)
    assert(c.map(_._1).distinct.sorted === u.map(_._1).distinct.sorted)
    // a non-binding cap leaves the rule unchanged
    assert(Hnsw.spillRatioThreshold(base, cents, distFn, 0.15, 1.0, n) === 1.15)
    // spill=0 short-circuits regardless of cap
    assert(Hnsw.spillRatioThreshold(base, cents, distFn, 0.0, 0.3, n) === 1.0)
  }

  test("recallTarget end-to-end: adaptive calibrates its own probe; the scan tier's measured recall dominates the prediction") {
    // sampleQueries = 100 matches annQueryAdaptive's internal default —
    // a different sample gives a (legitimately) different pick
    val (pc, curve) = Hnsw.calibrateProbeCells(routed, k = 10, recallTarget = 0.9)
    // the no-flag spelling must be bit-equal to passing the calibrated
    // probe explicitly (one calibration pass, then the same chooser)
    val viaTarget = Hnsw.annQueryAdaptive(routed, queries, k = 10, recallTarget = 0.9)
      .collect().map(_.toSeq).toSet
    val viaProbe = Hnsw.annQueryAdaptive(routed, queries, k = 10, probeCells = pc)
      .collect().map(_.toSeq).toSet
    assert(viaTarget === viaProbe)
    // an explicit probe wins over the target (no calibration jobs run)
    val explicit = Hnsw.annQueryAdaptive(routed, queries, k = 10, probeCells = 16,
      recallTarget = 0.9).collect().map(_.toSeq).toSet
    val full = Hnsw.annQueryAdaptive(routed, queries, k = 10, probeCells = 16)
      .collect().map(_.toSeq).toSet
    assert(explicit === full)
    // measured recall on the calibration's own sample clears the target
    // (probed-join mechanism — the thing the curve predicts), and the
    // pruned-union SCAN at the same probe DOMINATES the prediction: its
    // per-query candidates are a superset of the join's (the batch-wide
    // probed union), so one curve serves both exact forms as a floor
    val n = routed.meta.num_nodes
    val step = math.max(1L, n / 100L) // the calibration's own sample modulus
    val sample = routed.nodes.filter(!col("tombstone") && col("id") % step === 0)
      .groupBy(col("id")).agg(first(col("vector")).as("vector"))
      .select(col("id").as("qid"), col("vector"))
    val uniq = routed.nodes.filter(!col("tombstone"))
      .groupBy(col("id")).agg(first(col("vector")).as("vector"))
    val exact = Knn.exactTopK(uniq, sample, 10, Distances.metric(routed.meta.metric))
    def recallOf(ann: org.apache.spark.sql.DataFrame): Double =
      Hnsw.recallAtK(ann, exact, 10).agg(avg("recall")).head().getDouble(0)
    val predicted = curve.orderBy("probe_cells").collect()
      .map(r => (r.getInt(0), r.getDouble(1)))
      .takeWhile(_._1 <= pc).lastOption.map(_._2).getOrElse(0.0)
    val joinR = recallOf(Hnsw.annQueryRoutedExact(routed, sample, k = 10, probeCells = pc))
    assert(joinR >= 0.9 - 0.02, s"calibrated probe $pc must clear the target, got $joinR")
    val scanR = recallOf(Hnsw.annQueryPrunedExact(routed, sample, k = 10, probeCells = pc))
    assert(scanR >= predicted - 0.02,
      s"scan recall $scanR must dominate the prediction $predicted at probe $pc")
    assert(scanR >= joinR - 0.02,
      s"scan candidates are a superset of the join's ($scanR vs $joinR)")
  }

  test("annQueryRoutedExactLarge is bit-equal to the broadcast exact-probed form") {
    val b = Hnsw.annQueryRoutedExact(routed, queries, k = 10, probeCells = 4)
      .collect().map(_.toSeq).toSet
    val l = Hnsw.annQueryRoutedExactLarge(routed, queries, k = 10, probeCells = 4)
      .collect().map(_.toSeq).toSet
    assert(l === b)
    val full = Hnsw.annQueryRoutedExactLarge(routed, queries, k = 10, probeCells = 16)
      .collect().map(_.toSeq).toSet
    val exact = Knn.exactTopK(
      routed.nodes.filter(!col("tombstone"))
        .groupBy(col("id")).agg(first(col("vector")).as("vector")),
      queries, 10, Distances.metric(routed.meta.metric))
      .collect().map(_.toSeq).toSet
    assert(full === exact, "full-probe large form must BE the exact top-k")
  }

  test("annQuery auto-dispatches multi-chunk query sets to the driver-free plan") {
    val expected = Hnsw.annQueryLarge(routed, queries, k = 10)
      .collect().map(_.toSeq).toSet
    val before = Hnsw.largeDispatches.get()
    // 10 queries at batch size 3 → more than one chunk → dispatch
    val got = Hnsw.annQuery(routed, queries, k = 10, queryBatchSize = 3)
      .collect().map(_.toSeq).toSet
    assert(Hnsw.largeDispatches.get() === before + 1, "the dispatch must fire")
    assert(got === expected, "dispatched result must be bit-equal")
    // a single-chunk set stays on the small-batch path
    val single = Hnsw.largeDispatches.get()
    assert(Hnsw.annQuery(routed, queries, k = 10).collect().map(_.toSeq).toSet === expected)
    assert(Hnsw.largeDispatches.get() === single, "one chunk must not dispatch")
    // an explicit spillPath keeps the chunked durable form (caller owns it)
    val tmp = Files.createTempDirectory("annq-spill").toString
    val sp = Hnsw.annQuery(routed, queries, k = 10, queryBatchSize = 3,
      spillPath = Some(s"$tmp/chunks")).collect().map(_.toSeq).toSet
    assert(sp === expected)
    assert(Hnsw.largeDispatches.get() === single, "spillPath call must not dispatch")
  }

  test("withCalibration: cached curve equals fresh calibration and picks job-free") {
    val fresh = Hnsw.calibrateProbeCells(routed, k = 10, recallTarget = 1.0,
      sampleQueries = 50)._2.orderBy("probe_cells").collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSeq
    val cal = Hnsw.withCalibration(routed, k = 10, sampleQueries = 50)
    val curve = cal.calibration.headOption.getOrElse(fail("withCalibration must attach a curve"))
    assert(curve.k === 10)
    assert(curve.points === fresh, "attached curve must BE the fresh calibration's")
    // cached picks == fresh picks across targets (the smallest-probe rule)
    Seq(0.5, 0.9, 1.0).foreach { t =>
      val freshPick = Hnsw.calibrateProbeCells(routed, k = 10, recallTarget = t,
        sampleQueries = 50)._1
      assert(Hnsw.calibrateProbeCells(cal, k = 10, recallTarget = t)._1 === freshPick,
        s"cached pick at target $t")
      assert(Hnsw.cachedProbeFor(cal, 10, t) === Some(freshPick))
    }
    // r15 covering-floor semantics: a curve at k' >= k serves smaller k
    // (floor — it can only over-probe); nothing covers a LARGER k
    assert(Hnsw.cachedProbeFor(cal, 5, 0.9) === Hnsw.cachedProbeFor(cal, 10, 0.9),
      "the k=10 curve must cover k=5 picks (nearest k' >= k)")
    assert(Hnsw.cachedProbeFor(cal, 20, 0.9) === None,
      "no curve at k' >= 20 -> no contract (never extrapolate below k)")
    // the cached pick runs NO jobs (the SQL rewrite's contract)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Hnsw.calibrateProbeCells(cal, k = 10, recallTarget = 0.9)
      Thread.sleep(500)
      assert(jobs.get() === 0, s"cached calibration ran ${jobs.get()} jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("calibration curve persists through save/load; the num_nodes marker drops a stale one") {
    val cal = Hnsw.withCalibration(routed, k = 10, sampleQueries = 50)
    val tmp = Files.createTempDirectory("hnsw-cal").toString
    Hnsw.save(cal, tmp)
    val loaded = Hnsw.load(spark, tmp)
    val lc = loaded.calibration.headOption.getOrElse(fail("load must re-attach the saved curve"))
    assert(lc.k === 10)
    assert(lc.points === cal.calibration.head.points,
      "curve must round-trip bit-exact through the JSON sidecar")
    // recall-target picks on the LOADED index come from the cached curve
    assert(Hnsw.calibrateProbeCells(loaded, 10, 0.9)._1 ===
      Hnsw.calibrateProbeCells(cal, 10, 0.9)._1)
    // stale marker (vector set changed, e.g. a streaming append bumped
    // num_nodes): the curve must NOT load — a misprediction is silent
    Hnsw.writeCalibration(tmp, cal.calibration, cal.meta.num_nodes + 1)
    assert(Hnsw.load(spark, tmp).calibration.isEmpty,
      "a curve whose num_nodes marker mismatches must be dropped")
    // re-saving an UNCALIBRATED index into a reused dir removes the file
    Hnsw.writeCalibration(tmp, cal.calibration, cal.meta.num_nodes)
    assert(Hnsw.load(spark, tmp).calibration.nonEmpty)
    Hnsw.save(cal.copy(calibration = Nil), tmp)
    assert(Hnsw.load(spark, tmp).calibration.isEmpty,
      "save without a curve must not leave a stale calibration.json behind")
  }

  test("loadCalibration rejects a partially-parsed curve (n_points mismatch / non-finite recall)") {
    val cal = Hnsw.withCalibration(routed, k = 10, sampleQueries = 50)
    val tmp = Files.createTempDirectory("hnsw-cal-broken").toString
    Hnsw.save(cal, tmp)
    assert(Hnsw.load(spark, tmp).calibration.nonEmpty)
    // corrupt ONE point's recall to NaN: the point regex skips it, so the
    // parsed list is shorter than declared — the loader must reject the
    // WHOLE file (a curve missing its lowest points over-probes silently)
    val p = java.nio.file.Paths.get(s"$tmp/calibration.json")
    val raw = java.nio.file.Files.readString(p)
    val firstPoint = """\[(\d+),([-0-9.eE]+)\]""".r.findFirstIn(raw).get
    java.nio.file.Files.writeString(p,
      raw.replace(firstPoint, firstPoint.replaceAll(",[-0-9.eE]+\\]", ",NaN]")))
    assert(Hnsw.load(spark, tmp).calibration.isEmpty,
      "a curve whose parsed points disagree with n_points must be dropped whole")
  }

  test("ghost-aware break-even: scanJoinCostRatio tracks node_rows/num_nodes; unknown geometry keeps the legacy factor") {
    def m(nr: Long, n: Long) = routed.meta.copy(num_nodes = n, node_rows = nr)
    // unknown geometry (pre-r14 meta): legacy factor 2.0 -> ratio 6.6,
    // bracketing the old hard-coded 6
    assert(Hnsw.ghostFactor(m(-1L, 5000000L)) === 2.0)
    assert(Hnsw.ghostFactor(m(5000000L, -1L)) === 2.0)
    // the two committed 5M×512 geometries: saturated (r11) and capped (r13)
    assert(math.abs(Hnsw.ghostFactor(m(9900000L, 5000000L)) - 1.98) < 1e-9)
    assert(math.abs(Hnsw.ghostFactor(m(6470009L, 5000000L)) - 1.2940018) < 1e-6)
    // clamp: a pathological meta can't zero either side of the break-even
    assert(Hnsw.ghostFactor(m(1000L, 5000L)) === 1.0)
    assert(Hnsw.ghostFactor(m(20000L, 5000L)) === 2.0)
    assert(math.abs(Hnsw.scanJoinCostRatio(2.0) - 6.6) < 1e-9)
    assert(math.abs(Hnsw.scanJoinCostRatio(1.0) - 3.3) < 1e-9)
    // a real build carries its geometry in meta — no count job at query time
    assert(routed.meta.node_rows >= routed.meta.num_nodes,
      "buildRouted must record stored rows (>= distinct ids) in meta")
  }

  test("no-flag default: an attached curve drives the probe at DefaultRecallTarget; none -> C/4; explicit flags win") {
    import graft.hnsw.CalCurve
    // handcrafted curve so the expected pick is unambiguous under the r16
    // margin: the effective bar is 0.95 + sqrt(.95·.05/100) ≈ 0.9718, so
    // the 0.98 point is picked
    val curve = CalCurve(10, Seq((3, 0.98), (16, 1.0)))
    val calIdx = routed.copy(calibration = Seq(curve))
    Hnsw.annQueryAdaptive(calIdx, queries, k = 10).count()
    assert(Hnsw.lastAdaptiveProbe.get() === 3,
      "no-flag call on a calibrated index must consume the curve's margined 0.95 pick")
    // a point above the target but BELOW target + one sd is NOT picked —
    // the r16 margin (bare min-picks measured 0.934 held-out at 5M×512,
    // BENCH_SCALE_CALFAMILY512_100Q.json)
    Hnsw.annQueryAdaptive(
      routed.copy(calibration = Seq(CalCurve(10, Seq((3, 0.96), (16, 1.0))))),
      queries, k = 10).count()
    assert(Hnsw.lastAdaptiveProbe.get() === 16,
      "a curve point below target + one clustered sd must be skipped by the margined pick")
    // no curve: the C/4 heuristic (-1 sentinel), exactly the r13 behavior
    Hnsw.annQueryAdaptive(routed, queries, k = 10).count()
    assert(Hnsw.lastAdaptiveProbe.get() === -1,
      "an uncalibrated index must keep the C/4 default")
    // a curve at k' < k must not be consumed (it would OVER-predict);
    // covering curves at k' >= k are exercised in the family spec below
    Hnsw.annQueryAdaptive(routed.copy(calibration = Seq(CalCurve(5, Seq((3, 0.96))))),
      queries, k = 10).count()
    assert(Hnsw.lastAdaptiveProbe.get() === -1,
      "a curve at k' < k must fall back to the default")
    // explicit probe is a cost dial and wins over the curve
    Hnsw.annQueryAdaptive(calIdx, queries, k = 10, probeCells = 7).count()
    assert(Hnsw.lastAdaptiveProbe.get() === 7)
    // explicit recallTarget consumes the curve via the cached fast path
    Hnsw.annQueryAdaptive(calIdx, queries, k = 10, recallTarget = 0.99).count()
    assert(Hnsw.lastAdaptiveProbe.get() === 16,
      "explicit target must pick from the attached curve (0.99 -> 16)")
  }

  test("save auto-calibration writes the whole default k family; autoCalibrate=false skips it") {
    // meta doctored to the decayed operating point (the auto-calibrate
    // trigger is meta-only); the measurement then runs on the real tiny
    // fixture through the sparse-sample fallback
    val decayed = routed.copy(meta = routed.meta.copy(dim = 512, num_nodes = 5000000L))
    assert(Hnsw.traversalDecays(decayed.meta, k = 10, ef = -1))
    val tmp = Files.createTempDirectory("hnsw-autofam").toString
    Hnsw.save(decayed, tmp)
    val loaded = Hnsw.load(spark, tmp)
    assert(loaded.calibration.map(_.k) === Hnsw.DefaultCalibrationKs.sorted,
      "save must auto-calibrate the full default k family in one pass")
    val tmp2 = Files.createTempDirectory("hnsw-autofam-off").toString
    Hnsw.save(decayed, tmp2, autoCalibrate = false)
    assert(Hnsw.load(spark, tmp2).calibration.isEmpty,
      "autoCalibrate = false must skip the curve family entirely")
  }

  test("calibration family: one pass measures every k; a covering k' >= k curve is a floor; persistence + pre-r15 back-compat") {
    // ONE measurement pass at kMax attaches every requested curve; the
    // k=10 member is bit-identical to a single-k calibration (the top-10
    // truth is a prefix of the top-50 truth, hit ranks are per-pair)
    val fam = Hnsw.withCalibration(routed, Seq(5, 10, 50), 50)
    assert(fam.calibration.map(_.k) === Seq(5, 10, 50))
    val single = Hnsw.withCalibration(routed, k = 10, sampleQueries = 50)
    assert(fam.calibration.find(_.k == 10).get.points === single.calibration.head.points,
      "the family's k=10 curve must BE the single-k measurement")
    // THE FLOOR PROPERTY, on the measured object (what licenses curveFor's
    // covering fallback): at every probe budget the k'-curve's prediction
    // is <= every smaller k's — nearer true neighbours route at smaller
    // cell ranks — so serving k from the nearest k' >= k under-predicts
    // recall@k and its pick can only over-probe, never under-deliver
    def at(cv: graft.hnsw.CalCurve, p: Int): Double =
      cv.points.takeWhile(_._1 <= p).lastOption.map(_._2).getOrElse(0.0)
    val c5 = fam.calibration.find(_.k == 5).get
    val c10 = fam.calibration.find(_.k == 10).get
    val c50 = fam.calibration.find(_.k == 50).get
    (1 to routed.meta.num_cells).foreach { p =>
      assert(at(c50, p) <= at(c10, p) + 1e-9, s"k=50 must floor k=10 at probe $p")
      assert(at(c10, p) <= at(c5, p) + 1e-9, s"k=10 must floor k=5 at probe $p")
    }
    // k=7 has no exact curve: the k=10 curve covers it, and the covering
    // pick's MEASURED recall@7 clears the target (the floor, end-to-end)
    val pick7 = Hnsw.cachedProbeFor(fam, 7, 0.9).getOrElse(fail("k=10 must cover k=7"))
    assert(pick7 === Hnsw.cachedProbeFor(fam, 10, 0.9).get,
      "the covering pick must come from the nearest k' >= k curve")
    assert(Hnsw.cachedProbeFor(fam, 51, 0.9) === None,
      "k above the family has no covering curve -> no contract")
    val n = routed.meta.num_nodes
    val step = math.max(1L, n / 50L)
    val sample = routed.nodes.filter(!col("tombstone") && col("id") % step === 0)
      .groupBy(col("id")).agg(first(col("vector")).as("vector"))
      .select(col("id").as("qid"), col("vector"))
    val uniq = routed.nodes.filter(!col("tombstone"))
      .groupBy(col("id")).agg(first(col("vector")).as("vector"))
    val exact7 = Knn.exactTopK(uniq, sample, 7, Distances.metric(routed.meta.metric))
    val ann7 = Hnsw.annQueryRoutedExact(routed, sample, k = 7, probeCells = pick7)
    val measured7 = Hnsw.recallAtK(ann7, exact7, 7).agg(avg("recall")).head().getDouble(0)
    assert(measured7 >= 0.9 - 0.02,
      s"covering pick $pick7 must clear the 0.9 target at k=7, got $measured7")
    // the adaptive no-flag default consumes the family at a covered k
    Hnsw.annQueryAdaptive(fam, queries, k = 5).count()
    assert(Hnsw.lastAdaptiveProbe.get() ===
      Hnsw.cachedProbeFor(fam, 5, Hnsw.DefaultRecallTarget).get,
      "no-flag adaptive at k=5 must consume the family's k=5 curve")
    // persistence: the whole family round-trips bit-exact through save/load
    val tmp = Files.createTempDirectory("hnsw-calfam").toString
    Hnsw.save(fam, tmp)
    val loaded = Hnsw.load(spark, tmp)
    assert(loaded.calibration.map(cv => (cv.k, cv.points)) ===
      fam.calibration.map(cv => (cv.k, cv.points)),
      "the curve family must round-trip bit-exact through calibration.json")
    // a pre-r15 single-curve calibration.json (top-level k) still loads —
    // indexes saved by older rounds keep their contract
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$tmp/calibration.json"),
      s"""{"k":10,"num_nodes":${fam.meta.num_nodes},"n_points":2,"points":[[3,0.5],[9,1.0]]}""")
    val old = Hnsw.load(spark, tmp)
    assert(old.calibration.map(_.k) === Seq(10))
    assert(old.calibration.head.points === Seq((3, 0.5), (9, 1.0)))
    // one broken member rejects the family WHOLE (n_points discipline)
    Hnsw.save(fam, tmp)
    val pth = java.nio.file.Paths.get(s"$tmp/calibration.json")
    val raw = java.nio.file.Files.readString(pth)
    val firstPoint = """\[(\d+),([-0-9.eE]+)\]""".r.findFirstIn(raw).get
    java.nio.file.Files.writeString(pth,
      raw.replace(firstPoint, firstPoint.replaceAll(",[-0-9.eE]+\\]", ",NaN]")))
    assert(Hnsw.load(spark, tmp).calibration.isEmpty,
      "a family with one broken curve must be dropped whole")
  }
}
