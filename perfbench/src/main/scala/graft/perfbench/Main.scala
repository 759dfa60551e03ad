package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. Usage:
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  * Prints one line `PERFBENCH <json>` with the check verdict, the op
  * counts and every metric the run measured, and writes the run's detail
  * (environment, call times, failures and, when traced, every span) to
  * `<work>/results/`.
  */
object Main {
  val Workloads = Seq("ann-search-small", "corpus-prep")

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t   => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      },
      Paths.get(need("work")).toAbsolutePath)
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}; have ${Workloads.mkString(", ")}")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(args.work.resolve("spark-local"))
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
    // the CLI raises this for its vector modes only; match it
    if (args.workload.startsWith("ann"))
      builder.config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val r = new Runner(spark, args)
    try {
      r.phase("session")
      args.workload match {
        case "ann-search-small" => new AnnSearch(r).run()
        case "corpus-prep"      => new CorpusPrep(r).run()
      }
      r.phase("done")
      r.metrics("error_rate") = r.failed.toDouble / math.max(1, r.attempted)
      val env = Seq(
        "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
        "trace" -> args.trace, "nproc" -> cores,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "spark_version" -> spark.version, "jdk_version" -> System.getProperty("java.version"),
        "source_sha" -> sys.props.getOrElse("perfbench.source_sha", "unknown"),
        "git_sha" -> sys.props.getOrElse("perfbench.git_sha", "unknown"))
      val result = Seq("correct" -> (r.failed == 0), "attempted" -> r.attempted, "failed" -> r.failed,
        "metrics" -> r.metrics.toMap)
      val detail = Json.obj(env ++ result ++ Seq("info" -> r.info.toMap, "failures" -> r.failures.toSeq,
        "spans" -> RawJson(if (args.trace) r.tracer.toJson else "[]")))
      val out = args.work.resolve("results")
      Files.createDirectories(out)
      Files.writeString(out.resolve(s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}.json"),
        detail + "\n")
      r.failures.take(20).foreach(f => System.err.println(s"[perfbench] check failed: $f"))
      System.out.println("PERFBENCH " + Json.obj(env ++ result))
    } finally {
      spark.stop()
      r.deleteDir(r.runDir)
    }
  }
}
