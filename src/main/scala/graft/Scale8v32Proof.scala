package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Packing, Pipeline, Retrieval, TextStats}
import graft.sources.Datagen

/** Parallel-efficiency proof at a scale where WORK dominates (VERDICT r16
  * item 7): the sf0.1 bench corpus is 5,000 docs, so every query there is
  * fixed-job-overhead-bound and the driver's 8-vs-32-core ratios sit at
  * ~1.0 — they validate plan shape, not scaling. This main re-runs the
  * bench's heaviest operator families over a 1M-doc synthetic corpus (the
  * [[TextScaleProof]] recipe: [[Datagen.syntheticDocs]] word-soup with 1%
  * planted exact + 1% near duplicates) and 200k×64 vectors, at the core
  * count given by `$SPARK_GRAFT_CPUS`.
  *
  * The corpus is WRITTEN TO PARQUET once and re-read, so both core counts
  * scan identical files (and the scan parallelism itself is part of what
  * is measured, as in the real bench). One warmup pass per plan family
  * runs untimed (codegen+JIT; the r14 lesson), then each phase is timed
  * with the noop sink, min-of-`reps`.
  *
  * Run twice and commit the pair as BENCH_SCALE_8V32.json:
  *   SPARK_DRIVER_MEM=64g SPARK_GRAFT_CPUS=32 scripts/run_main.sh graft.Scale8v32Proof
  *   SPARK_DRIVER_MEM=64g SPARK_GRAFT_CPUS=8  scripts/run_main.sh graft.Scale8v32Proof
  */
object Scale8v32Proof {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-8v32-proof")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // ---- corpus: identical files for every core count ------------------
    val dir = args.lift(2).getOrElse("/tmp/graft_8v32")
    val docsPath = s"$dir/docs_$n.parquet"
    val vecsPath = s"$dir/vecs.parquet"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    // each input is written under a temporary name and renamed when
    // complete, and checked on its own: a run that died between the two
    // writes leaves no partial or missing file for later runs to reuse
    def writeOnce(path: String)(df: => DataFrame): Unit = {
      val dst = new org.apache.hadoop.fs.Path(path)
      if (!fs.exists(dst)) {
        val tmp = new org.apache.hadoop.fs.Path(s"$path.tmp")
        df.write.mode("overwrite").parquet(tmp.toString)
        require(fs.rename(tmp, dst), s"could not move $tmp to $dst")
      }
    }
    writeOnce(docsPath) {
      val base = Datagen.syntheticDocs(spark, n)
      val nPlant = n / 100
      val exactDups = base.filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") / 100 + n).cast("long").as("doc_id"), col("text"))
      val nearDups = base.filter(col("doc_id") % 100 === 1)
        .select((col("doc_id") / 100 + n + nPlant).cast("long").as("doc_id"),
          concat(lit("zz "), col("text")).as("text"))
      base.select("doc_id", "text").unionAll(exactDups).unionAll(nearDups)
        .withColumn("source", concat(lit("src"), (col("doc_id") % 20).cast("string")))
        .repartition(64)
    }
    writeOnce(vecsPath)(Datagen.gaussianVectors(spark, 200000, 64).repartition(32))
    def docs = spark.read.parquet(docsPath)
    def vecs = spark.read.parquet(vecsPath)

    def timed(name: String)(mk: => DataFrame): (String, Double) = {
      // one untimed warmup per plan family (codegen + JIT), then min-of-reps
      mk.write.format("noop").mode("overwrite").save()
      graft.operators.Checkpoints.releaseTracked(spark)
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        mk.write.format("noop").mode("overwrite").save()
        val s = (System.nanoTime() - t0) / 1e9
        graft.operators.Checkpoints.releaseTracked(spark)
        s
      }
      System.err.println(f"[8v32] $name%-24s cpus=$cpus min=${ts.min}%8.2f  reps=${ts.map(t => f"$t%.1f").mkString(" ")}")
      name -> ts.min
    }

    val phases = Seq(
      // q11/q12/q55 family: corpus-wide signature aggregation + banding
      timed("lsh_pairs") {
        val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", n = 3, h = 4)
        Dedup.lshCandidatePairs(sigs, "doc_id", h = 4, rows = 2, maxBandSize = 1000)
          .select("id_a", "id_b").distinct()
      },
      // q60 family: LSH propose -> exact shingle-set verify
      timed("lsh_verified") {
        val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", n = 3, h = 4)
        val pairs = Dedup.lshCandidatePairs(sigs, "doc_id", h = 4, rows = 2, maxBandSize = 1000)
          .select("id_a", "id_b").distinct()
        Dedup.jaccardForPairs(pairs, docs, "doc_id", "text", n = 3, minJaccard = 0.4)
      },
      // q55/q36 tail: connected components over the pair graph
      timed("dup_clusters") {
        val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", n = 3, h = 4)
        val pairs = Dedup.lshCandidatePairs(sigs, "doc_id", h = 4, rows = 2, maxBandSize = 1000)
          .select("id_a", "id_b").distinct()
        Dedup.dupClusters(docs, pairs, "doc_id")
      },
      // q54 family: per-doc text stats + per-group adaptive quantile gate
      timed("adaptive_quality") {
        val stats = TextStats.textStats(docs, "doc_id", "text")
          .filter(col("n_tokens") >= 1)
          .select(col("doc_id"), col("pred_lang").as("lang"), col("quality"))
        TextStats.adaptiveThreshold(stats, "doc_id", "lang", "quality", minPct = 0.5)
      },
      // q96 family: bigram-LM doc scores + exact quantile buckets
      timed("perplexity_buckets")(
        Retrieval.perplexityBuckets(docs, "doc_id", "text")),
      // q148/q149 family: BPE tokenizer + block packing
      timed("pack_token_ids") {
        val merges = Seq(("e r", "er"), ("t h", "th"), ("a n", "an"), ("i n", "in"), ("o n", "on"))
        Packing.packTokenIds(docs, "doc_id", "text", merges, targetTokens = 8192)
      },
      // q138 family: host link graph + fixed-point rank iterations
      timed("host_rank") {
        val crawl = docs.select(col("doc_id"), col("source").as("host"),
          concat(lit("<html><body><a href=\"http://h"), (col("doc_id") % 7).cast("string"),
            lit(".example/p"), col("doc_id").cast("string"), lit("\">x</a>"),
            col("text"), lit("</body></html>")).as("html"))
        Pipeline.hostRank(crawl, "host", "html", iterations = 2)
      },
      // q93 family: exact fixed-point k-means over 200k x 64 vectors
      timed("kmeans_exact") {
        graft.operators.Ivf.kmeansExact(
          vecs.select(col("id"), col("vector")), k = 8, iters = 2)
      })

    val json = phases.map { case (k, v) => f""""$k":$v%.3f""" }.mkString(",")
    println(s"""{"proof":"scale_8v32","n_docs":$n,"cpus":$cpus,"reps":$reps,"sec":{$json}}""")
    spark.stop()
  }
}
