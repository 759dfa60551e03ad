package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Distances
import graft.hnsw.{Hnsw, HnswIndex, HnswParams, LocalHnsw}
import graft.operators.Knn

/** Interactive search (`ann-search-small`): one client, one query per
  * call, k=10, closed loop, against an index of clustered float vectors
  * that set-up builds, saves, checks and loads. The traced run adds a bulk
  * call over the whole query pool, the exact scan and single-shard kernel
  * timings, so every ANN layer is measured here.
  */
final class AnnSearch(r: Runner) {
  import AnnSearch._
  private val spark = r.spark
  private val seed = r.args.seed
  private val dir: Path = r.runDir

  private var data: Array[Array[Float]] = _
  private var queries: Array[Array[Float]] = _
  private var truth: Array[Array[Long]] = _
  private var index: HnswIndex = _

  private def indexDir: Path = dir.resolve("index")

  private def inputDir = dir.resolve("input_vectors").toString
  private def queryDir = dir.resolve("input_queries").toString

  private def generate(): Unit = {
    val cache = r.args.work.resolve("cache")
    val stamp = Spec.stamp(seed)
    val (_, t) = r.timed {
      r.tracer.span("sources.generate", -1) {
        data = Inputs.cached(cache, s"vectors-$seed.bin", stamp)(Inputs.writeFloats, Inputs.readFloats)(
          Inputs.vectors(seed, Spec))
        queries = Inputs.cached(cache, s"queries-$seed.bin", stamp)(Inputs.writeFloats, Inputs.readFloats)(
          Inputs.queries(seed, Spec))
        truth = Inputs.cached(cache, s"truth-$seed.bin", stamp)(Inputs.writeLongs, Inputs.readLongs)(
          Inputs.truth(data, queries, K))
      }
    }
    r.metrics("sources.gen_s") = t
  }

  private val schema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("vector", ArrayType(FloatType, containsNull = false), nullable = false)))

  private def frame(vs: Array[Array[Float]], idName: String): DataFrame = {
    val rows = vs.indices.map(i => Row(i.toLong, vs(i)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, r.cores), schema)
      .withColumnRenamed("id", idName)
  }

  /** Writes the corpus and the query pool as parquet, the form a user
    * hands the engine.
    */
  private def writeInputs(): Unit = r.tracer.span("sources.write", -1) {
    frame(data, "id").write.mode("overwrite").parquet(inputDir)
    frame(queries, "qid").write.mode("overwrite").parquet(queryDir)
  }

  private def buildAndSave(): Unit = {
    val idx = r.tracer.span("hnsw.build", -1)(Hnsw.build(spark.read.parquet(inputDir), Params))
    r.tracer.span("hnsw.save", -1)(Hnsw.save(idx, indexDir.toString))
  }

  /** Output checks of one query call's rows (qid, rank, id, dist) against
    * the query pool; returns (all checks passed, recall hits).
    */
  private def checkResults(rows: Array[Row], qids: Seq[Int]): (Boolean, Long) = {
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    var ok = r.check("result qids equal the query set")(byQ.keySet == qids.map(_.toLong).toSet)
    var hits = 0L
    qids.foreach { q =>
      val rs = byQ.getOrElse(q.toLong, Array.empty[Row]).sortBy(_.getAs[Int]("rank"))
      ok &= r.check(s"query $q: $K rows with ranks 1..$K")(
        rs.map(_.getAs[Int]("rank")).toSeq == (1 to K))
      val dists = rs.map(_.getAs[Double]("dist"))
      ok &= r.check(s"query $q: distances non-decreasing")(
        dists.indices.drop(1).forall(i => dists(i) >= dists(i - 1)))
      ok &= r.check(s"query $q: distances match recomputed l2")(rs.forall { row =>
        val id = row.getAs[Long]("id")
        id >= 0 && id < data.length && {
          val d = Inputs.l2(queries(q), data(id.toInt))
          math.abs(d - row.getAs[Double]("dist")) <= 1e-9 * math.max(1.0, d)
        }
      })
      val want = truth(q).toSet
      hits += rs.count(row => want.contains(row.getAs[Long]("id")))
    }
    (ok, hits)
  }

  /** Shard 0 of a saved index as the kernel sees it: (id, vector, level)
    * rows sorted by id, and its (src, layer, dst) edges.
    */
  private def shard0(): (Array[(Long, Array[Float], Int)], Array[(Long, Int, Long)]) = {
    val nodes = spark.read.parquet(indexDir.resolve("vectors").toString).filter(col("pid") === 0)
      .select("id", "vector", "level").collect()
      .map(row => (row.getLong(0), row.getSeq[Float](1).toArray, row.getInt(2))).sortBy(_._1)
    val edges = spark.read.parquet(indexDir.resolve("edges").toString).filter(col("pid") === 0)
      .select("src", "layer", "dst").collect().map(row => (row.getLong(0), row.getInt(1), row.getLong(2)))
    (nodes, edges)
  }

  /** Single-shard kernel numbers on shard 0 of a saved index: insertion
    * throughput, graph load time and per-query search time at the query
    * path's default ef.
    */
  private def localKernel(): Unit = {
    val (nodes, edges) = shard0()
    val meta = Hnsw.loadMeta(indexDir.toString)
    val p = Params
    val adds = (0 until 3).map { _ =>
      r.timed(r.tracer.span("local.add", -1) {
        val g = new LocalHnsw(p.dim, p.m, p.maxM0Resolved, p.efConstruction, p.metric)
        nodes.foreach { case (id, v, l) => g.add(id, v, l) }
      })._2
    }
    r.metrics("local.add_vps") = nodes.length / Stats.median(adds)
    var graph: LocalHnsw = null
    val loads = (0 until 5).map { _ =>
      r.timed(r.tracer.span("local.fromrows", -1) {
        graph = LocalHnsw.fromRows(meta.dim, meta.m, meta.max_m0, meta.ef_construction, meta.metric,
          nodes.iterator, edges.iterator)
      })._2
    }
    r.metrics("local.fromrows_ms") = Stats.median(loads) * 1e3
    val ef = Hnsw.efBudget(meta, K, -1)
    val searches = (0 until 3).map { _ =>
      r.timed(r.tracer.span("local.search", -1) {
        queries.foreach(q => graph.search(q, K, ef))
      })._2
    }
    r.metrics("local.search_us") = Stats.median(searches) / queries.length * 1e6
    r.info("local_shard_nodes") = nodes.length
    r.info("query_ef") = ef
  }

  private def rawBytes: Double = Spec.n.toDouble * Spec.dim * 4

  private def setupIndex(): Unit = r.setup(3, () => checkIndex()) {
    writeInputs()
    buildAndSave()
    index = r.tracer.span("hnsw.load", -1)(Hnsw.load(spark, indexDir.toString))
    r.release()
  }

  /** Structural checks of a saved index: every node present once, degree
    * caps per layer (max_m0 on layer 0, M above), layer-0 edges for every
    * live node, and an entry point on the top layer.
    */
  private def checkIndex(): Boolean = {
    val meta = Hnsw.loadMeta(indexDir.toString)
    val nodes = spark.read.parquet(indexDir.resolve("vectors").toString)
      .select(col("id"), col("level"), col("tombstone"))
    // every node with its layer-0 out-degree; null marks a node without
    // layer-0 edges
    val degrees = spark.read.parquet(indexDir.resolve("edges").toString)
      .groupBy(col("src").as("id"), col("layer")).agg(count(lit(1)).as("deg"))
    val perNode = nodes.join(degrees.filter(col("layer") === 0).select(col("id"), col("deg").as("deg0")),
      Seq("id"), "left")
    val n = perNode.agg(count(lit(1)), countDistinct(col("id")), max(col("level")),
      sum(when(!col("tombstone") && col("deg0").isNull, 1).otherwise(0)),
      max(when(col("id") === meta.entry_point, col("level")))).head()
    val overCap = degrees.filter((col("layer") === 0 && col("deg") > meta.max_m0) ||
      (col("layer") > 0 && col("deg") > meta.m)).count()
    var ok = r.check("node count equals n")(n.getLong(0) == Spec.n && n.getLong(1) == Spec.n)
    ok &= r.check("degree caps hold on every layer")(overCap == 0)
    ok &= r.check("every live node has layer-0 edges")(n.getLong(3) == 0)
    ok &= r.check("entry point is a top-level node")(
      !n.isNullAt(4) && n.getInt(4) == n.getInt(2) && meta.max_layer == n.getInt(2))
    ok
  }

  def run(): Unit = {
    generate()
    setupIndex()
    var hits = 0L
    var asked = 0L
    val schema = StructType(Seq(StructField("qid", LongType, nullable = false),
      StructField("vector", ArrayType(FloatType, containsNull = false), nullable = false)))
    val op = new Op {
      def run(request: Int): () => Boolean = {
        val q = Math.floorMod(request, queries.length)
        val one = spark.createDataFrame(java.util.List.of(Row(q.toLong, queries(q))), schema)
        val rows = Hnsw.annQuery(index, one, K).collect()
        () => {
          val (ok, h) = checkResults(rows, Seq(q))
          if (request >= 0) { hits += h; asked += 1 }
          ok
        }
      }
    }
    r.warmUp(op, seconds = 10.0)
    r.loop("hnsw.query_small", op, minCalls = 20)
    r.callMetrics(1)
    val recall = hits.toDouble / (asked * K)
    r.oneOffCheck(s"recall $recall >= $RecallFloor")(recall >= RecallFloor)
    r.metrics("recall") = recall
    r.metrics("size_ratio") = r.dirBytes(indexDir) / rawBytes
    if (r.args.trace) layers()
  }

  /** Per-layer numbers of the traced run. */
  private def layers(): Unit = {
    localKernel()
    r.metrics("hnsw.query_small.rebuild_share") =
      Params.numPartitions * r.metrics("local.fromrows_ms") / 1e3 / r.cores / r.tracedP50
    // set-up build and save wall against the single-thread kernel on all cores
    val passes = r.tracer.spans.filter(s => s.name == "setup" && s.traced).map(_.id).toSet
    val buildWall = Stats.median(passes.toSeq.map(p => r.tracer.spans
      .filter(c => c.parent == p && (c.name == "hnsw.build" || c.name == "hnsw.save")).map(_.wallS).sum))
    r.metrics("hnsw.build.parallel_eff") = Spec.n / buildWall / (r.cores * r.metrics("local.add_vps"))
    r.metrics("hnsw.load.wall_s") = Stats.median(
      r.tracer.spans.filter(s => s.name == "hnsw.load" && s.traced).map(_.wallS).toSeq)
    // one warm-up and one traced bulk call over the whole query pool
    val qids = 0 until BulkQueries
    val bulkWall = (0 until 2).map { i =>
      r.tracer.setTracing(i == 1)
      val (rows, t) = r.timed(r.tracer.span("hnsw.query_bulk", -3) {
        Hnsw.annQuery(index, spark.read.parquet(queryDir).filter(col("qid") < BulkQueries), K).collect()
      })
      r.tracer.drain()
      r.oneOffCheck(s"bulk call $i output")(checkResults(rows, qids)._1)
      r.release()
      t
    }.last
    exactScan(BulkQueries / bulkWall)
    r.tracer.setTracing(false)
    r.spanCounters(Seq("hnsw.build", "hnsw.save", "hnsw.query_bulk", "hnsw.query_small"))
  }

  /** The exact scan as the speed reference on a query subset. */
  private def exactScan(annQps: Double): Unit = {
    val n = 100
    val q = spark.read.parquet(queryDir).filter(col("qid") < n)
    val (rows, t) = r.timed(r.tracer.span("knn.exact", -3) {
      Knn.exactTopK(index.nodes.select("id", "vector"), q, K, Distances.l2).collect()
    })
    r.oneOffCheck("exact scan matches brute force") {
      val got = rows.groupBy(_.getAs[Long]("qid")).map { case (k, v) => k -> v.map(_.getAs[Long]("id")).toSet }
      (0 until n).forall(i => got.getOrElse(i.toLong, Set.empty) == truth(i).toSet)
    }
    r.metrics("knn.exact_qps") = n / t
    r.metrics("hnsw.speedup_vs_exact") = annQps / r.metrics("knn.exact_qps")
  }
}

object AnnSearch {
  val K = 10
  /** Floor on recall@10 against brute-force truth; a run below it fails. */
  val RecallFloor = 0.9
  val Spec = Inputs.VectorSpec(n = 8000, dim = 64, clusters = 80, queries = 1000, k = K)
  /** Engine defaults: l2, M=16, efConstruction=200, 16 shards. */
  val Params = HnswParams(dim = Spec.dim)
  /** Queries of the bulk call in the traced run. */
  val BulkQueries = 1000
}
