package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One call into a layer: name, interval, the span that caused it and the
  * request (benchmark operation) it belongs to.
  */
final case class Span(id: Int, name: String, parent: Int, request: Int,
                      startNs: Long, startMs: Long, var endNs: Long = -1L, var endMs: Long = -1L,
                      traced: Boolean = false) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** A finished task, attributed to the span whose job group launched it. */
final case class TaskRecord(span: Int, stage: Int, launchMs: Long, finishMs: Long,
                            runMs: Long, cpuNs: Long, gcMs: Long, shuffleReadB: Long,
                            shuffleWriteB: Long, spillB: Long, peakExecB: Long)

/** Collects job and task metrics for spans through the job group, which
  * [[Tracer.span]] sets to the span id while tracing is on.
  */
final class SpanListener extends SparkListener {
  val stageSpan = new ConcurrentHashMap[Int, Int]()
  val jobs = new ConcurrentLinkedQueue[(Int, Int)]() // (span, job id)
  val tasks = new ConcurrentLinkedQueue[TaskRecord]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.filter(_.startsWith(Tracer.GroupPrefix)).foreach { g =>
      val span = g.stripPrefix(Tracer.GroupPrefix).toInt
      jobs.add((span, e.jobId))
      e.stageIds.foreach(s => stageSpan.putIfAbsent(s, span))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.getOrDefault(e.stageId, -1)
    val m = e.taskMetrics
    if (span >= 0 && m != null) {
      tasks.add(TaskRecord(span, e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled, m.peakExecutionMemory))
    }
  }
}

/** Spans recorded around the benchmark's calls into the program, kept in
  * memory and written out when the run ends. Spans are always timed (the
  * untraced run times its operations with them too); Spark counters are
  * attributed only while tracing is on, which is what the tracing overhead
  * measures. Single client thread.
  */
final class Tracer(sc: SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  val listener = new SpanListener
  private var stack = List.empty[Span]
  private var on = false

  /** Attach or detach the listener; call between operations. */
  def setTracing(enabled: Boolean): Unit = if (enabled != on) {
    if (enabled) sc.addSparkListener(listener) else {
      org.apache.spark.perfbench.Bus.drain(sc)
      sc.removeSparkListener(listener)
    }
    on = enabled
  }

  def span[T](name: String, request: Int)(body: => T): T = {
    val parent = stack.headOption
    val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1), request,
      System.nanoTime(), System.currentTimeMillis(), traced = on)
    spans += s
    stack ::= s
    if (on) sc.setJobGroup(Tracer.GroupPrefix + s.id, name, interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      stack = stack.tail
      if (on) parent match {
        case Some(p) => sc.setJobGroup(Tracer.GroupPrefix + p.id, p.name, interruptOnCancel = false)
        case None    => sc.clearJobGroup()
      }
    }
  }

  /** Wait until every listener event of the finished spans is processed. */
  def drain(): Unit = if (on) org.apache.spark.perfbench.Bus.drain(sc)

  private def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  private def subtree(id: Int): Set[Int] =
    children(id).foldLeft(Set(id))((acc, c) => acc ++ subtree(c.id))

  /** Span duration minus the part its child spans cover (children of one
    * span run one after another on the single client thread).
    */
  def selfS(s: Span): Double = s.wallS - children(s.id).map(_.wallS).sum

  /** Spark counters of one traced span, including its child spans. */
  def counters(s: Span): Map[String, Double] = {
    val ids = subtree(s.id)
    val ts = listener.tasks.asScala.filter(t => ids.contains(t.span)).toSeq
    val jobCount = listener.jobs.asScala.count(j => ids.contains(j._1))
    val mb = 1024.0 * 1024.0
    // call wall time not covered by any running task: driver work and
    // scheduling wait
    val covered = {
      val iv = ts.map(t => (math.max(t.launchMs, s.startMs), math.min(t.finishMs, s.endMs)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var total = 0L; var curS = -1L; var curE = -1L
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) total += curE - curS
      total / 1e3
    }
    // slowest task over the median task in the span's longest stage
    val skew = {
      val byStage = ts.groupBy(_.stage)
      if (byStage.isEmpty) 1.0
      else {
        val longest = byStage.values.maxBy(g => g.map(_.finishMs).max - g.map(_.launchMs).min)
        val durs = longest.map(t => math.max(1L, t.finishMs - t.launchMs)).sorted
        durs.last.toDouble / durs(durs.length / 2)
      }
    }
    Map(
      "wall_s" -> s.wallS,
      "jobs" -> jobCount.toDouble,
      "tasks" -> ts.size.toDouble,
      "exec_run_s" -> ts.map(_.runMs).sum / 1e3,
      "exec_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "shuffle_read_mb" -> ts.map(_.shuffleReadB).sum / mb,
      "shuffle_write_mb" -> ts.map(_.shuffleWriteB).sum / mb,
      "spill_mb" -> ts.map(_.spillB).sum / mb,
      "peak_exec_mb" -> (if (ts.isEmpty) 0.0 else ts.map(_.peakExecB).max / mb),
      "idle_s" -> math.max(0.0, s.wallS - covered),
      "task_skew" -> skew)
  }

  /** Median of each counter over the traced spans called `name` (of one
    * request when `request` is given).
    */
  def medianCounters(name: String, request: Option[Int] = None): Map[String, Double] = {
    val per = spans.filter(s => s.name == name && s.traced && s.endNs > 0 &&
      request.forall(_ == s.request)).map(counters).toSeq
    if (per.isEmpty) Map.empty
    else per.head.keys.map(k => k -> Stats.median(per.map(_(k)))).toMap
  }

  /** Every span as JSON, for the trace file. */
  def toJson: String = spans.map { s =>
    val c = if (s.traced) counters(s) else Map.empty[String, Double]
    Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "request" -> s.request,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS, "self_s" -> selfS(s),
      "traced" -> s.traced) ++ c.toSeq.sortBy(_._1))
  }.mkString("[\n", ",\n", "\n]")
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
}
