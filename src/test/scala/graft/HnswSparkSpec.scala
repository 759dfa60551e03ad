package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SchedulerBridge

import graft.functions.Distances
import graft.hnsw.{Hnsw, HnswIndex, HnswParams, LocalHnsw, ShardRegistry}
import graft.operators.Knn

class HnswSparkSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val input = spark.read.parquet(s"$dir/embeddings.parquet")
    .select(col("vec_id").as("id"), col("embedding").as("vector"))
  private lazy val params = HnswParams(dim = 64, m = 8, efConstruction = 64, numPartitions = 4)

  private lazy val index = Hnsw.build(input, params)
  /** More shards than the suite's 4 cores: slots hold two shards each. */
  private lazy val index8 = Hnsw.build(input, params.copy(numPartitions = 8))

  test("build produces edges on every populated layer and respects caps") {
    val perSrc = index.edges.groupBy("src", "layer").count().collect()
    assert(perSrc.nonEmpty)
    perSrc.foreach { r =>
      val cap = if (r.getInt(1) == 0) params.maxM0Resolved else params.m
      assert(r.getLong(2) <= cap, s"degree ${r.getLong(2)} over cap $cap at layer ${r.getInt(1)}")
    }
  }

  test("ann query self-match and recall vs exact oracle") {
    val queries = input.filter(col("id") % 50 === 0).select(col("id").as("qid"), col("vector"))
    val ann = Hnsw.annQuery(index, queries, k = 10)
    // self-match at rank 1, dist 0
    val rank1 = ann.filter(col("rank") === 1).collect()
    rank1.foreach { r => assert(r.getAs[Long]("qid") === r.getAs[Long]("id")); assert(r.getAs[Double]("dist") === 0.0) }

    val embD = input.select(col("id"), Distances.toDouble(col("vector")).as("vector"))
    val qD = embD.filter(col("id") % 50 === 0).select(col("id").as("qid"), col("vector"))
    val exact = Knn.exactTopK(embD, qD, 10, Distances.l2)
    val recall = Hnsw.recallAtK(ann, exact, 10)
      .agg(avg("recall")).head().getDouble(0)
    assert(recall >= 0.8, s"avg recall@10 $recall")
  }

  test("save/load round-trip preserves search results (hsnw_trial.py:310-376)") {
    val tmp = Files.createTempDirectory("hnsw-io").toString
    Hnsw.save(index, tmp)
    val loaded = Hnsw.load(spark, tmp)
    assert(loaded.meta === index.meta)
    val queries = input.filter(col("id") % 100 === 0).select(col("id").as("qid"), col("vector"))
    val before = Hnsw.annQuery(index, queries, 5).collect().map(_.toSeq).toSet
    val after = Hnsw.annQuery(loaded, queries, 5).collect().map(_.toSeq).toSet
    assert(before === after)
  }

  test("partial-aggregate topk equals window topk exactly") {
    val embD = input.select(col("id"), Distances.toDouble(col("vector")).as("vector"))
    val qD = embD.filter(col("id") % 37 === 0).select(col("id").as("qid"), col("vector"))
    val a = Knn.exactTopK(embD, qD, 7, Distances.l2).collect().map(_.toSeq).toSet
    val b = Knn.exactTopKWindow(embD, qD, 7, Distances.l2).collect().map(_.toSeq).toSet
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("cross-partition merge yields one navigable graph, sharded for distributed queries") {
    val merged = graft.hnsw.HnswMerge.merge(index, level0SampleMod = 4)
    // caps respected after relational prune (LOGICAL edges — each edge is
    // duplicated to both endpoints' shards, so dedup before counting)
    val over = merged.edges.select("src", "layer", "dst").distinct()
      .groupBy("src", "layer").count()
      .filter((col("layer") === 0 && col("count") > params.maxM0Resolved) ||
              (col("layer") > 0 && col("count") > params.m)).count()
    assert(over === 0)
    // the merged graph stays DISTRIBUTED: >1 query shard, never a
    // single-task whole-graph rebuild
    assert(merged.meta.num_partitions > 1)
    assert(merged.nodes.select("pid").distinct().count() > 1)
    // each id is HOME (non-ghost) in exactly one shard → no duplicate
    // result candidates across shards
    val maxHomes = merged.nodes.filter(!col("tombstone"))
      .groupBy("id").count().agg(max("count")).head().getLong(0)
    assert(maxHomes === 1L)
    // merged graph is queryable across shards with decent recall
    val queries = input.filter(col("id") % 50 === 0).select(col("id").as("qid"), col("vector"))
    val ann = Hnsw.annQuery(merged, queries, k = 10)
    val dupIds = ann.groupBy("qid", "id").count().filter(col("count") > 1).count()
    assert(dupIds === 0, "ghost copies must never surface as duplicate results")
    val exact = Knn.exactTopK(
      input, input.filter(col("id") % 50 === 0).select(col("id").as("qid"), col("vector")),
      10, Distances.l2)
    val recall = Hnsw.recallAtK(ann, exact, 10).agg(avg("recall")).head().getDouble(0)
    assert(recall >= 0.8, s"merged-graph recall@10 $recall")
    // edges actually span build partitions (check src/dst mix)
    val crossCount = merged.edges
      .filter(pmod(col("src"), lit(4)) =!= pmod(col("dst"), lit(4))).count()
    assert(crossCount > 0, "no cross-partition links created")
  }

  test("filtered ANN: only allowed ids surface, recall vs the exact filtered oracle, large path bit-equal") {
    val attrs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("label"))
    val allowed = attrs.filter(col("label") % 3 === 0).select("id")
    val allowedSet = allowed.collect().map(_.getLong(0)).toSet
    val queries = input.filter(col("id") % 50 === 0).select(col("id").as("qid"), col("vector"))
    // selectivity ~1/3 → ef widened ~3× (see annQueryFiltered scaladoc)
    val ann = Hnsw.annQueryFiltered(index, queries, k = 10, allowed, ef = 192)
    val rows = ann.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(allowedSet.contains(r.getAs[Long]("id")),
      s"id ${r.getAs[Long]("id")} violates the filter"))

    val embD = input.select(col("id"), Distances.toDouble(col("vector")).as("vector"))
    val qD = embD.filter(col("id") % 50 === 0).select(col("id").as("qid"), col("vector"))
    val exact = Knn.exactTopK(embD.join(allowed, "id"), qD, 10, Distances.l2)
    val recall = Hnsw.recallAtK(ann, exact, 10).agg(avg("recall")).head().getDouble(0)
    assert(recall >= 0.8, s"filtered avg recall@10 $recall")

    val large = Hnsw.annQueryFiltered(index, queries, k = 10, allowed, ef = 192, large = true)
    assert(large.collect().map(_.toSeq).toSet === rows.map(_.toSeq).toSet)
  }

  test("filtered ANN with an empty allowed set returns no rows (never crashes the traversal)") {
    val queries = input.filter(col("id") % 100 === 0).select(col("id").as("qid"), col("vector"))
    val none = input.select("id").filter(lit(false))
    assert(Hnsw.annQueryFiltered(index, queries, k = 5, none).count() === 0L)
  }

  test("empty input builds the empty-index sentinel; queries over it return no rows") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("id", "vector")
    val idx = Hnsw.build(empty, params)
    assert(idx.meta.entry_point === -1L && idx.meta.max_layer === -1)
    val q = Seq((0L, Array.fill(64)(0f))).toDF("qid", "vector")
    assert(Hnsw.annQuery(idx, q, 3).collect().isEmpty)
  }

  test("ann query is reproducible run-to-run on the same index (normalized adjacency)") {
    val queries = input.filter(col("id") % 60 === 0).select(col("id").as("qid"), col("vector"))
    val a = Hnsw.annQuery(index, queries, k = 10).collect().map(_.toSeq).toSet
    val b = Hnsw.annQuery(index, queries, k = 10).collect().map(_.toSeq).toSet
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("chunked query broadcast: many small chunks return exactly the single-chunk result") {
    val queries = input.filter(col("id") % 40 === 0).select(col("id").as("qid"), col("vector"))
    val oneChunk = Hnsw.annQuery(index, queries, k = 5).collect().map(_.toSeq).toSet
    val chunked = Hnsw.annQuery(index, queries, k = 5, queryBatchSize = 2)
      .collect().map(_.toSeq).toSet
    assert(chunked === oneChunk)
    assert(oneChunk.nonEmpty)
    // durable spill variant (cluster path: shared-FS parquet appends)
    val spill = Files.createTempDirectory("ann-spill").toString
    val spilled = Hnsw.annQuery(index, queries, k = 5, queryBatchSize = 2,
      spillPath = Some(spill)).collect().map(_.toSeq).toSet
    assert(spilled === oneChunk)
  }

  test("annQueryLarge over the sharded merged graph matches annQuery on it (ghosts never duplicate)") {
    val merged = graft.hnsw.HnswMerge.merge(index, level0SampleMod = 4)
    val queries = input.filter(col("id") % 70 === 0).select(col("id").as("qid"), col("vector"))
    val viaDriver = Hnsw.annQuery(merged, queries, k = 6).collect().map(_.toSeq).toSet
    val distributed = Hnsw.annQueryLarge(merged, queries, k = 6).collect().map(_.toSeq).toSet
    assert(distributed === viaDriver)
    assert(viaDriver.nonEmpty)
  }

  test("annQueryLarge (no driver round-trip) is bit-equal to annQuery, including on a deleted index") {
    val queries = input.filter(col("id") % 40 === 0).select(col("id").as("qid"), col("vector"))
    val small = Hnsw.annQuery(index, queries, k = 7).collect().map(_.toSeq).toSet
    val large = Hnsw.annQueryLarge(index, queries, k = 7).collect().map(_.toSeq).toSet
    assert(large === small)
    assert(small.nonEmpty)
    // tombstones flow through the distributed path identically
    val del = Hnsw.delete(index, Seq(0L, 40L))
    val a = Hnsw.annQuery(del, queries, k = 7).collect().map(_.toSeq).toSet
    val b = Hnsw.annQueryLarge(del, queries, k = 7).collect().map(_.toSeq).toSet
    assert(b === a)
    assert(!b.exists(r => r(2) == 0L || r(2) == 40L))
  }

  test("delete report: unknown ids report not_found, repeats report already_deleted (hsnw_trial.py:296-305)") {
    val (deleted, report) = Hnsw.deleteWithReport(index, Seq(0L, 8L, 999999L))
    val byId = report.collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2))).toMap
    assert(byId(0L) === (true, "deleted"))
    assert(byId(8L) === (true, "deleted"))
    assert(byId(999999L) === (false, "not_found"))
    // a second delete of the same ids reports already_deleted, like the
    // reference returning False on a repeat delete
    val (_, again) = Hnsw.deleteWithReport(deleted, Seq(8L, 999999L))
    val byId2 = again.collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2))).toMap
    assert(byId2(8L) === (false, "already_deleted"))
    assert(byId2(999999L) === (false, "not_found"))
  }

  test("delete report on a re-sharded merged index: ghosts never fan out or flip the verdict") {
    val merged = graft.hnsw.HnswMerge.merge(index, level0SampleMod = 4)
    // pick an id that actually has ghost copies (>1 physical row), so the
    // test exercises the collapse, not just the plain path
    val ghosted = merged.nodes.groupBy("id").count()
      .filter(col("count") > 1).orderBy("id").limit(1)
      .collect().headOption.map(_.getLong(0))
    assert(ghosted.nonEmpty, "merge produced no ghost copies — test premise broken")
    val gid = ghosted.get
    val (deletedIdx, report) = Hnsw.deleteWithReport(merged, Seq(gid, 999999L))
    val rows = report.collect()
    assert(rows.length === 2, s"one row per requested id expected, got ${rows.toSeq}")
    val byId = rows.map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2))).toMap
    assert(byId(gid) === (true, "deleted"), "live node must report deleted despite tombstoned ghosts")
    assert(byId(999999L) === (false, "not_found"))
    // repeat delete: still one row, now already_deleted
    val (_, again) = Hnsw.deleteWithReport(deletedIdx, Seq(gid))
    val rows2 = again.collect()
    assert(rows2.length === 1)
    assert(rows2.head.getString(2) === "already_deleted")
  }

  test("tombstoned ids are excluded from ann results; rebuild drops them") {
    val deleted = Hnsw.delete(index, Seq(0L, 8L))
    val queries = input.filter(col("id") === 0).select(col("id").as("qid"), col("vector"))
    val res = Hnsw.annQuery(deleted, queries, 10).collect()
    assert(!res.exists(r => r.getAs[Long]("id") == 0L || r.getAs[Long]("id") == 8L))

    val rebuilt = Hnsw.rebuild(deleted, params)
    assert(rebuilt.nodes.count() === input.count() - 2)
  }

  // ---- resident shard graphs ----

  private def queryArr(mod: Int): Array[(Long, Array[Float])] =
    input.filter(col("id") % mod === 3).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  private def rowSet(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("resident shards: bit-identical to a per-call rebuild on plain, deleted, merged and appended indexes") {
    import spark.implicits._
    val qs = queryArr(45)
    val qDf = qs.toSeq.toDF("qid", "vector")
    val ef = 24
    val cores = SchedulerBridge.localCores(spark.sparkContext).get
    // a streaming-style append: a second sub-graph under pid P, with ids
    // disjoint from the base index
    val extra = Hnsw.build(input.filter(col("id") % 3 === 0)
      .select((col("id") + 1000000L).as("id"), col("vector")), params.copy(numPartitions = 1))
    Seq(index, index8).foreach { base =>
      val p = base.meta.num_partitions
      assert(base.resident.graphs.slots === math.min(p, cores))
      val appended = base.copy(
        nodes = base.nodes.unionByName(extra.nodes.withColumn("pid", col("pid") + p)),
        edges = base.edges.unionByName(extra.edges.withColumn("pid", col("pid") + p)))
      val cases = Seq(
        "plain" -> base,
        "deleted" -> Hnsw.delete(base, qs.take(3).map(_._1).toSeq),
        "merged" -> graft.hnsw.HnswMerge.merge(base, level0SampleMod = 4),
        "appended" -> appended,
        "filter view" -> Hnsw.withAllowed(base, input.filter(col("id") % 3 =!= 1).select("id")))
      cases.foreach { case (name, idx) =>
        val want = HnswSparkSpec.rebuildReference(idx, qs, k = 7, ef)
        assert(want.nonEmpty, name)
        assert(rowSet(Hnsw.annQuery(idx, qDf, k = 7, ef = ef)) === want, s"P=$p $name: annQuery")
        assert(rowSet(Hnsw.annQueryBatch(idx, qs, k = 7, ef = ef)) === want, s"P=$p $name: annQueryBatch")
        assert(rowSet(Hnsw.annQueryLarge(idx, qDf, k = 7, ef = ef)) === want, s"P=$p $name: annQueryLarge")
      }
      assert(HnswSparkSpec.rebuildReference(appended, qs, k = 7, ef).exists(_(2).asInstanceOf[Long] >= 1000000L),
        s"P=$p: the appended shard must contribute results")
    }
    assert(index8.meta.num_partitions > cores, "the P > cores case needs more shards than cores")
  }

  test("resident shards: a query's search and top-k merge plan has no Exchange") {
    val plan = Hnsw.annQueryBatch(index8, queryArr(45), k = 5).queryExecution.executedPlan
    assert(plan.collect { case e: org.apache.spark.sql.execution.exchange.Exchange => e }.isEmpty, plan.toString)
    assert(plan.toString.contains(s"Scan ${Hnsw.ShardSearchName}"), plan.toString)
  }

  test("shard search leaf: a session without the extension plans it on first use, same rows") {
    import graft.hnsw.HnswShardSearchStrategy
    val qs = queryArr(50)
    val other = spark.newSession()
    val otherIdx = Hnsw.build(other.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vector")), params)
    assert(!other.experimental.extraStrategies.contains(HnswShardSearchStrategy))
    val got = Hnsw.annQuery(otherIdx, other.createDataFrame(qs.toSeq).toDF("qid", "vector"), k = 5)
    Hnsw.annQueryBatch(otherIdx, qs, k = 5)
    assert(other.experimental.extraStrategies.count(_ == HnswShardSearchStrategy) === 1,
      "setup must add the strategy once per session")
    val want = Hnsw.annQuery(index, spark.createDataFrame(qs.toSeq).toDF("qid", "vector"), k = 5)
    assert(rowSet(got) === rowSet(want))
    assert(rowSet(want).size === qs.length * 5)
  }

  test("resident shards: a delete after a query never returns the deleted ids; views return only allowed ids") {
    import spark.implicits._
    val qs = queryArr(30)
    val qDf = qs.toSeq.toDF("qid", "vector")
    val before = Hnsw.annQuery(index, qDf, k = 10).collect()
    val hit = before.map(_.getAs[Long]("id")).distinct.take(12).toSeq
    val deleted = Hnsw.delete(index, hit)
    Seq(Hnsw.annQuery(deleted, qDf, k = 10), Hnsw.annQueryLarge(deleted, qDf, k = 10)).foreach { df =>
      val ids = df.collect().map(_.getAs[Long]("id"))
      assert(ids.nonEmpty && !ids.exists(hit.contains), "a deleted id came back")
    }
    // the base index keeps serving its own (untombstoned) graphs
    assert(Hnsw.annQuery(index, qDf, k = 10).collect().map(_.toSeq).toSet === before.map(_.toSeq).toSet)
    val allowed = input.filter(col("id") % 5 === 1).select("id")
    val allowedIds = allowed.collect().map(_.getLong(0)).toSet
    val view = Hnsw.withAllowed(index, allowed)
    Seq(Hnsw.annQuery(view, qDf, k = 10), Hnsw.annQueryLarge(view, qDf, k = 10),
        Hnsw.annQueryFiltered(index, qDf, k = 10, allowed)).foreach { df =>
      val ids = df.collect().map(_.getAs[Long]("id"))
      assert(ids.nonEmpty && ids.forall(allowedIds.contains), "a disallowed id came back")
    }
  }

  test("resident shards: repeated single-query calls load each shard once and move only query rows") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("qid", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("vector",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))))
    val qs = queryArr(10).take(20)
    val sc = spark.sparkContext
    Seq(params, params.copy(numPartitions = 8)).foreach { p =>
      val idx = Hnsw.build(input, p)
      val shards = idx.nodes.select("pid").distinct().count()
      val slots = idx.resident.graphs.slots
      assert(slots === math.min(p.numPartitions, SchedulerBridge.localCores(sc).get))
      val loadsBefore = ShardRegistry.loads.get()
      val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
      val stagesRun = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
      val tasks = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
      val stageGroup = new java.util.concurrent.ConcurrentHashMap[Integer, String]()
      val readBytes = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
      val writeBytes = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val g = Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
          jobs.merge(g, 1, (a, b) => a + b)
          js.stageIds.foreach(s => stageGroup.put(s, g))
        }
        // skipped stages (the index's shuffle, in place since the first
        // call) are never submitted
        override def onStageSubmitted(ss: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
          stagesRun.merge(stageGroup.getOrDefault(ss.stageInfo.stageId, ""), 1, (a, b) => a + b)
        override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val g = stageGroup.getOrDefault(te.stageId, "")
          tasks.merge(g, 1, (a, b) => a + b)
          Option(te.taskMetrics).foreach { m =>
            readBytes.merge(g, m.shuffleReadMetrics.totalBytesRead, (a, b) => a + b)
            writeBytes.merge(g, m.shuffleWriteMetrics.bytesWritten, (a, b) => a + b)
          }
        }
      }
      sc.addSparkListener(listener)
      try {
        qs.indices.foreach { i =>
          // building the call's frames submits no job; only the action does
          sc.setJobGroup(s"resident-build-${p.numPartitions}-$i", "resident shard spec")
          val one = spark.createDataFrame(java.util.List.of(
            org.apache.spark.sql.Row(qs(i)._1, qs(i)._2)), schema)
          val df = Hnsw.annQuery(idx, one, k = 5)
          Hnsw.annQueryBatch(idx, Array(qs(i)), k = 5)
          sc.setJobGroup(s"resident-call-${p.numPartitions}-$i", "resident shard spec")
          val rows = df.collect()
          sc.clearJobGroup()
          assert(rows.length === 5)
        }
        Thread.sleep(1000) // listener events are asynchronous
      } finally sc.removeSparkListener(listener)
      assert(ShardRegistry.loads.get() - loadsBefore === shards, "fromRows must run once per shard over all calls")
      qs.indices.foreach { i =>
        val g = s"resident-build-${p.numPartitions}-$i"
        assert(jobs.getOrDefault(g, 0) === 0, s"P=${p.numPartitions} building call $i ran ${jobs.get(g)} jobs")
      }
      (1 until qs.length).foreach { i =>
        val g = s"resident-call-${p.numPartitions}-$i"
        assert(jobs.getOrDefault(g, 0) === 1, s"P=${p.numPartitions} call $i ran ${jobs.get(g)} jobs")
        assert(stagesRun.getOrDefault(g, 0) === 1, s"P=${p.numPartitions} call $i ran ${stagesRun.get(g)} stages")
        assert(tasks.getOrDefault(g, 0) === slots,
          s"P=${p.numPartitions} call $i ran ${tasks.get(g)} tasks for $slots slots and one query")
        assert(readBytes.getOrDefault(g, 0L) < 100000L, s"call $i read ${readBytes.get(g)} shuffle bytes")
        assert(writeBytes.getOrDefault(g, 0L) === 0L, s"call $i wrote ${writeBytes.get(g)} shuffle bytes")
      }
    }
  }

  test("resident shards: filter views and same-graph copies load nothing; dead indexes are dropped") {
    import spark.implicits._
    val qDf = queryArr(60).toSeq.toDF("qid", "vector")
    val base = Hnsw.build(input, params)
    Hnsw.annQuery(base, qDf, k = 5).collect()
    val baseKey = base.resident.graphs.key
    val keys = ShardRegistry.residentKeys
    val loads = ShardRegistry.loads.get()
    assert(keys.contains(baseKey))
    (0 until 50).foreach { i =>
      val allowed = input.filter(col("id") % 50 =!= i).select("id")
      assert(Hnsw.annQueryFiltered(base, qDf, k = 5, allowed).collect().nonEmpty)
    }
    val copy = base.copy(calibration = Nil, pq = None)
    assert(copy.resident.graphs eq base.resident.graphs)
    assert(Hnsw.annQuery(copy, qDf, k = 5).collect().nonEmpty)
    ShardRegistry.sweep()
    assert(ShardRegistry.loads.get() === loads, "views and copies must search the base index's graphs")
    assert((ShardRegistry.residentKeys -- keys).isEmpty)
    // a delete is its own index value with its own graphs: once the driver
    // drops it, Spark's cleaner removes its token and the registry its slots
    def queriedDelete(): Long = {
      val d = Hnsw.delete(base, Seq(1L))
      assert(Hnsw.annQuery(d, qDf, k = 5).collect().nonEmpty)
      d.resident.graphs.key
    }
    val deadKey = queriedDelete()
    assert(ShardRegistry.residentKeys.contains(deadKey))
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (ShardRegistry.residentKeys.contains(deadKey) && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
      ShardRegistry.sweep()
    }
    assert(!ShardRegistry.residentKeys.contains(deadKey), "an unreachable index still holds resident shards")
    assert(ShardRegistry.residentKeys.contains(baseKey), "the live base index must keep its shards")
    assert(Hnsw.annQuery(base, qDf, k = 5).collect().nonEmpty)
  }

  test("resident shards: an index in a restarted SparkContext never gets the stopped context's graphs") {
    import scala.jdk.CollectionConverters._
    // a SparkContext restart needs its own JVM: this suite's session is shared
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      .filterNot(_.startsWith("-Xmx")) :+ "-Xmx1g"
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.ResidentRestartCheck")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    assert(proc.waitFor() === 0 && out.contains("RESTART OK"), out.takeRight(4000))
  }
}

/** Queries an index in one SparkContext, stops it, and in a new context
  * queries a different index whose token broadcast got the same id.
  * Prints `RESTART OK` when the second index answered from its own graphs.
  * Run by HnswSparkSpec in a JVM of its own.
  */
object ResidentRestartCheck {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.SparkSession
    def start() = SparkSession.builder().master("local[2]").appName("resident-restart")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2").getOrCreate()
    val params = HnswParams(dim = 8, m = 8, efConstruction = 32, numPartitions = 2)
    // the same vectors under disjoint ids in each context
    val vecs = (0 until 300).map { i => val r = new scala.util.Random(i); Array.fill(8)(r.nextFloat()) }
    def rows(spark: SparkSession, base: Long) = {
      import spark.implicits._
      vecs.zipWithIndex.map { case (v, i) => (base + i, v) }.toDF("id", "vector")
    }
    val first = start()
    (0 until 50).foreach(_ => first.sparkContext.broadcast(0)) // room for the second context to catch up
    val a = Hnsw.build(rows(first, 0L), params)
    require(Hnsw.annQuery(a, rows(first, 0L).limit(5).withColumnRenamed("id", "qid"), k = 3)
      .collect().forall(_.getAs[Long]("id") < 1000000L))
    val tokenId = a.resident.graphs.token.id
    first.stop()
    val second = start()
    val b = Hnsw.build(rows(second, 1000000L), params)
    var last = second.sparkContext.broadcast(0).id
    while (last < tokenId - 1) last = second.sparkContext.broadcast(0).id
    require(b.resident.graphs.token.id == tokenId, s"token ids differ: ${b.resident.graphs.token.id} vs $tokenId")
    val got = Hnsw.annQuery(b, rows(second, 1000000L).limit(5).withColumnRenamed("id", "qid"), k = 3)
      .collect().map(_.getAs[Long]("id"))
    require(got.nonEmpty && got.forall(_ >= 1000000L), s"served the stopped context's graphs: ${got.toSeq}")
    second.stop()
    println("RESTART OK")
  }
}

object HnswSparkSpec {

  /** The per-call rebuild the query paths used before shards became
    * resident, on the driver: every shard's graph from its rows, every
    * query searched in every shard, then the (dist, id) top-k with
    * duplicate ids collapsed. Rows are (qid, rank, id, dist).
    */
  def rebuildReference(idx: HnswIndex, qs: Seq[(Long, Array[Float])], k: Int, ef: Int,
                       pidsOf: Long => Int => Boolean = _ => _ => true): Set[Seq[Any]] = {
    val m = idx.meta
    val nodes = idx.nodes.select("pid", "id", "vector", "level", "tombstone").collect()
      .groupBy(_.getInt(0))
    val edges = idx.edges.select("pid", "src", "layer", "dst").collect().groupBy(_.getInt(0))
    val shards = nodes.map { case (pid, ns) =>
      val g = LocalHnsw.fromRows(m.dim, m.m, m.max_m0, m.ef_construction, m.metric,
        ns.iterator.map(r => (r.getLong(1), r.getSeq[Float](2).toArray, r.getInt(3))),
        edges.getOrElse(pid, Array.empty).iterator.map(r => (r.getLong(1), r.getInt(2), r.getLong(3))))
      (pid, g, ns.filter(_.getBoolean(4)).map(_.getLong(1)).toSet)
    }
    qs.flatMap { case (qid, v) =>
      shards.iterator.filter(s => pidsOf(qid)(s._1))
        .flatMap { case (_, g, tomb) => g.search(v, k, ef, tomb.contains) }.toSeq
        .groupBy(_._1).toSeq.map { case (id, c) => (c.map(_._2).min, id) }.sorted.take(k)
        .zipWithIndex.map { case ((dist, id), i) => Seq[Any](qid, i + 1, id, dist) }
    }.toSet
  }
}
