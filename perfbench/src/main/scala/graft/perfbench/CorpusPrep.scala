package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.functions.TextFunctions
import graft.operators.{Dedup, Pipeline, Sampling, TextStats}

/** Corpus prep: `Pipeline.prepare` with near dedup and decontamination,
  * then `Pipeline.writeCurriculum`, over word-soup docs with planted
  * exact duplicates, near duplicates, related variants and contaminated
  * rows ([[Inputs.docs]]).
  */
final class CorpusPrep(r: Runner) {
  private val spark = r.spark
  private val Spec = Inputs.DocSpec(n = 4000, benchDocs = 20)
  private val NearDedup = 0.8
  private val RecordsPerFile = 1000
  private val dir: Path = r.runDir
  private def docsDir = dir.resolve("input_docs").toString
  private def benchDir = dir.resolve("input_bench").toString
  private var docs: Inputs.Docs = _

  private def generate(): Unit = {
    val (_, t) = r.timed(r.tracer.span("sources.generate", -1) {
      docs = Inputs.cached(r.args.work.resolve("cache"), s"docs-${r.args.seed}.bin", Spec.stamp(r.args.seed))(
        Inputs.writeDocs, Inputs.readDocs)(Inputs.docs(r.args.seed, Spec))
    })
    r.metrics("sources.gen_s") = t
  }

  private def writeInputs(): Unit = r.tracer.span("sources.write", -1) {
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("source", StringType, nullable = false), StructField("text", StringType, nullable = false)))
    val rows = docs.ids.indices.map(i => Row(docs.ids(i), docs.sources(i), docs.texts(i)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, r.cores), schema)
      .write.mode("overwrite").parquet(docsDir)
    val bench = docs.benchTexts.indices.map(i => Row(i.toLong, "bench", docs.benchTexts(i)))
    spark.createDataFrame(spark.sparkContext.parallelize(bench, 1), schema)
      .write.mode("overwrite").parquet(benchDir)
  }

  /** Kept ids must be exactly the originals and the related variants:
    * no planted duplicate or contaminated row survives, every row that
    * must stay does, and no id appears twice.
    */
  private def checkIds(ids: Array[Long], what: String): Boolean = {
    val kept = ids.toSet
    var ok = r.check(s"$what: output ids unique")(kept.size == ids.length)
    ok &= r.check(s"$what: no planted duplicate or contaminated row survives")(
      !docs.mustDrop.exists(kept.contains))
    ok &= r.check(s"$what: every planted original is kept")(docs.mustKeep.forall(kept.contains))
    ok
  }

  def run(): Unit = {
    generate()
    r.setup(3)(writeInputs())
    val rawBytes = docs.texts.map(_.getBytes("UTF-8").length.toLong).sum.toDouble
    var outDir: Path = null
    val op = new Op {
      def run(request: Int): () => Boolean = {
        val out = dir.resolve(s"curriculum-$request")
        r.tracer.span("pipeline.prepare", request) {
          val prepared = Pipeline.prepare(spark.read.parquet(docsDir), "id", "source", "text",
            bench = Some(spark.read.parquet(benchDir)), nearDedup = Some(NearDedup))
          r.tracer.span("pipeline.write", request)(
            Pipeline.writeCurriculum(prepared, out.toString, "id", RecordsPerFile))
        }
        () => {
          if (outDir != null) r.deleteDir(outDir)
          outDir = out
          checkIds(spark.read.parquet(out.toString).select("id").collect().map(_.getLong(0)), "prepare")
        }
      }
    }
    r.warmUp(op)
    r.loop("pipeline.prepare", op, minCalls = 1)
    r.callMetrics(docs.ids.length)
    r.metrics("size_ratio") = r.dirBytes(outDir) / rawBytes
    // planted rows handled as intended: every run that passes its checks
    // reads 1.0 here
    r.metrics("recall") = if (r.failures.isEmpty) 1.0 else 0.0
    if (r.args.trace) {
      stages()
      r.spanCounters(Seq("pipeline.prepare"))
    }
  }

  /** `prepare` decomposed at its own persist boundaries, each stage
    * materialized inside its own span, so every stage gets its own time,
    * shuffle and spill. The composition mirrors `Pipeline.prepare`.
    */
  private def stages(): Unit = {
    r.tracer.setTracing(true)
    val names = Seq("textstats.gopher", "dedup.exact", "dedup.minhash", "dedup.lsh", "dedup.verify",
      "dedup.clusters", "dedup.contam", "sampling.budget", "pipeline.write")
    def stage(name: String)(df: => DataFrame): (DataFrame, Long) = r.tracer.span(name, -2) {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      (p, p.count())
    }
    val (wall, _) = r.timed(r.tracer.span("pipeline.stages", -2) {
      val input = spark.read.parquet(docsDir)
      val (gated, _) = stage("textstats.gopher")(input
        .join(TextStats.gopherRulesHof(input, "id", "text").filter(col("keep")).select("id"), "id")
        .filter(TextFunctions.qualityScore(col("text")) >= 0.3))
      val (deduped, _) = stage("dedup.exact")(gated.join(
        Dedup.exactDedup(gated, "id", "text").filter(!col("is_dup")).select("id"), "id"))
      val (sigs, _) = stage("dedup.minhash")(Dedup.minhashSignatures(deduped, "id", "text", n = 3, h = 4))
      val (cand, nCand) = stage("dedup.lsh")(Dedup.lshCandidatePairs(sigs, "id", h = 4, rows = 2,
        maxBandSize = 1000).select("id_a", "id_b").distinct())
      val (pairs, nDup) = stage("dedup.verify")(Dedup.jaccardForPairs(cand, deduped, "id", "text",
        n = 3, minJaccard = NearDedup).filter(col("is_dup")).select("id_a", "id_b"))
      val (near, _) = stage("dedup.clusters")(deduped.join(
        Dedup.dupClusters(deduped, pairs, "id").filter(col("id") =!= col("comp")).select("id"),
        Seq("id"), "left_anti"))
      val (clean, _) = stage("dedup.contam")(near.join(
        Dedup.contamination(near, spark.read.parquet(benchDir), "id", "text", n = 3, minOverlap = 5)
          .select("id"), Seq("id"), "left_anti"))
      val (selected, _) = stage("sampling.budget")(clean.join(
        Sampling.tokenBudgetSelect(clean, "id", "source", "text", Long.MaxValue, 1000)
          .filter(col("keep") === 1).select(col("id"), col("n_tok"), col("bin")), "id")
        .withColumn("tier", col("bin"))
        .withColumn("h", conv(substring(md5(col("id").cast("string")), 1, 15), 16, 10).cast("long"))
        .withColumn("shard", pmod(col("h"), lit(64L)))
        .withColumn("ck", col("tier") * 64 + col("shard")))
      val out = dir.resolve("curriculum-stages")
      r.tracer.span("pipeline.write", -2)(
        Pipeline.writeCurriculum(selected, out.toString, "id", RecordsPerFile))
      r.oneOffCheck("stage-wise prepare output") {
        checkIds(spark.read.parquet(out.toString).select("id").collect().map(_.getLong(0)), "stages")
      }
      r.metrics("dedup.lsh.cand_pairs") = nCand.toDouble
      r.metrics("dedup.verify.dup_pairs") = nDup.toDouble
      r.metrics("dedup.lsh_precision") = if (nCand == 0) 0.0 else nDup.toDouble / nCand
    })
    r.tracer.drain()
    r.tracer.setTracing(false)
    r.release()
    names.foreach { n =>
      val c = r.tracer.medianCounters(n, Some(-2))
      Seq("wall_s", "shuffle_write_mb", "spill_mb").foreach(k => r.metrics(s"$n.$k") = c.getOrElse(k, 0.0))
    }
    r.metrics("pipeline.stage_sum_s") = names.map(n => r.metrics(s"$n.wall_s")).sum
    r.info("pipeline_stages_wall_s") = wall
  }
}
