package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.operators.Checkpoints

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

/** One timed operation: `run` is the timed call into the program and
  * returns the output check, which runs outside the timed window and
  * returns false (or throws) when an output is wrong.
  */
trait Op {
  def run(request: Int): () => Boolean
}

/** Shared harness of all workloads: repeated set-up, one untimed warm-up,
  * the timed closed loop (one client, next call after the previous one
  * returns), output checks, release of cached blocks between calls, and
  * the memory and GC readings.
  */
final class Runner(val spark: SparkSession, val args: Args) {
  val sc = spark.sparkContext
  val tracer = new Tracer(sc)
  val cores: Int = sc.defaultParallelism
  /** This process's input, index and output files; removed at exit. */
  val runDir: Path = args.work.resolve(s"run-${ProcessHandle.current.pid}")
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val failures = ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0

  /** Wall times of the timed calls, and whether each was traced. */
  val walls = ArrayBuffer.empty[Double]
  val tracedCall = ArrayBuffer.empty[Boolean]

  /** JVM uptime at each phase boundary, to show where a run's time goes. */
  def phase(name: String): Unit =
    info(s"uptime_s.$name") = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def check(what: String)(ok: Boolean): Boolean = {
    if (!ok) failures += what
    ok
  }

  /** A check outside the timed loop that still counts as an attempted op. */
  def oneOffCheck(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed = try ok catch { case e: Throwable => failures += s"$what: $e"; false }
    if (!passed) { failed += 1; if (!failures.exists(_.startsWith(what))) failures += what }
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Free every cached block and tracked checkpoint the last call left. */
  def release(): Unit = {
    Checkpoints.releaseTracked(spark)
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def storageMb: Double =
    sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / (1024.0 * 1024.0)

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  /** Heap in use after forced full GCs, with pauses between them so
    * Spark's context cleaner can drop what earlier calls left unreachable
    * (it runs after a GC, on its own thread); the least of three readings.
    */
  def liveHeapMb: Double = (0 until 3).map { _ =>
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }.min

  /** Runs set-up `times` times, checks each pass's output outside its
    * timing, and records the median pass as `setup_s`.
    */
  def setup(times: Int, check: () => Boolean = () => true)(body: => Unit): Unit = {
    val ts = (0 until times).map { i =>
      tracer.setTracing(args.trace)
      val (_, t) = timed(tracer.span("setup", -1 - i)(body))
      tracer.drain()
      oneOffCheck(s"set-up pass $i output")(check())
      t
    }
    metrics("setup_s") = Stats.median(ts)
    phase("setup")
    info("setup_runs_s") = ts
  }

  /** Untimed calls (at least one, and for at least `seconds`), so JIT
    * compilation and code generation are done before the timed window.
    */
  def warmUp(op: Op, seconds: Double = 0.0): Unit = {
    tracer.setTracing(false)
    val t0 = System.nanoTime()
    var done = 0
    while (done == 0 || System.nanoTime() - t0 < seconds * 1e9) {
      val verdict = op.run(-1000 + done)
      oneOffCheck("warm-up output")(verdict())
      release()
      done += 1
    }
    info("warm_up_calls") = done
    phase("warm_up")
  }

  /** The timed closed loop: calls until `seconds` have passed (at least
    * `minCalls`). With tracing on, every other call is traced so the
    * traced and untraced calls of one run give the tracing overhead.
    */
  def loop(opSpan: String, op: Op, minCalls: Int): Unit = {
    // a traced run needs a traced and an untraced call for the overhead
    val calls = if (args.trace) math.max(minCalls, 2) else minCalls
    val gc0 = gcSeconds
    val t0 = System.nanoTime()
    var request = 0
    while (request < calls || System.nanoTime() - t0 < args.seconds * 1e9) {
      val traceThis = args.trace && request % 2 == 0
      tracer.setTracing(traceThis)
      attempted += 1
      val ok =
        try {
          val (verdict, wall) = timed(tracer.span(opSpan, request)(op.run(request)))
          tracer.drain()
          walls += wall
          tracedCall += traceThis
          try verdict() catch { case e: Throwable => failures += s"check of call $request: $e"; false }
        } catch { case e: Throwable => failures += s"call $request: $e"; false }
      if (!ok) failed += 1
      // the last call's blocks stay until the storage reading below
      if (System.nanoTime() - t0 < args.seconds * 1e9 || request + 1 < calls) release()
      request += 1
    }
    tracer.setTracing(false)
    info("timed_window_s") = (System.nanoTime() - t0) / 1e9
    metrics("spark.storage_mb") = storageMb
    metrics("spark.gc_s") = gcSeconds - gc0
    metrics("live_heap_mb") = liveHeapMb
    release()
    phase("timed")
  }

  /** End-to-end call metrics over the untraced calls (all calls when the
    * run is untraced), `items` units of work per call.
    */
  def callMetrics(items: Double): Unit = {
    val plain = walls.indices.filter(i => !tracedCall(i)).map(walls)
    val ws = if (plain.nonEmpty) plain else walls.toSeq
    metrics("items_per_s") = items * ws.size / ws.sum
    metrics("call_p50_ms") = Stats.median(ws) * 1e3
    val (pct, tail) = Stats.tail(ws)
    metrics("call_tail_ms") = tail * 1e3
    info("call_tail_percentile") = pct
    info("calls") = ws.size
    info("call_walls_s") = walls.toSeq
    if (args.trace) {
      val tr = walls.indices.filter(tracedCall).map(walls)
      if (tr.nonEmpty && plain.nonEmpty)
        metrics("trace.overhead_pct") = (Stats.median(tr) / Stats.median(plain) - 1.0) * 100.0
    }
  }

  /** Wall-clock median of the traced calls, for per-layer ratios. */
  def tracedP50: Double = {
    val tr = walls.indices.filter(tracedCall).map(walls)
    Stats.median(if (tr.nonEmpty) tr else walls.toSeq)
  }

  /** Per-layer Spark counters for each span name, as `<span>.<counter>`. */
  def spanCounters(names: Seq[String]): Unit =
    names.foreach { n =>
      tracer.medianCounters(n).foreach { case (k, v) => metrics(s"$n.$k") = v }
    }

  def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
        .map(Files.size).sum
      finally s.close()
    }

  def deleteDir(dir: Path): Unit = if (Files.exists(dir)) {
    val s = Files.walk(dir)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }
}
