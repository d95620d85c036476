package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One measured value: what the run reports for a metric, with the
  * number of samples it was taken over.
  */
final case class Metric(value: Double, unit: String, n: Long)

/** A span: a named interval at one layer boundary, with the span that
  * caused it. Times are epoch milliseconds with sub-millisecond digits.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Spans recorded in memory; written out once, when the run ends. */
final class Tracer(val runId: String, val enabled: Boolean) {
  private val baseEpochMs = System.currentTimeMillis().toDouble
  private val baseNanos = System.nanoTime()
  private val ids = new AtomicLong(0)
  private val buf = mutable.ArrayBuffer.empty[Span]

  /** The epoch clock the listener events use, at nanosecond resolution. */
  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNanos) / 1e6

  def newId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (enabled) synchronized { buf += s }

  def spans: Seq[Span] = synchronized(buf.toList)

  /** Time `body` as a span of `kind` under `parent`; the body gets its id. */
  def span[T](kind: String, name: String, parent: Long)(body: Long => T): T = {
    val id = newId()
    val t0 = nowMs
    try body(id) finally add(Span(id, parent, kind, name, t0, nowMs))
  }
}

object Intervals {
  /** Total length of the union of intervals, each clipped to [lo, hi]. */
  def unionLength(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    clipped.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.map { case (a, b) => b - a }.getOrElse(0.0)
  }
}

/** Source file name → module, from the engine's `src/main/scala` tree
  * (the package directory under `graft/`) and the benchmark's own
  * sources (module `result`: the harness's sink jobs).
  */
final class Modules(engineSrc: java.io.File, benchSrc: java.io.File) {
  private def scalaFiles(root: java.io.File): Seq[java.io.File] =
    if (!root.isDirectory) Nil
    else {
      val w = java.nio.file.Files.walk(root.toPath)
      try {
        import scala.jdk.CollectionConverters._
        w.iterator().asScala.map(_.toFile).filter(_.getName.endsWith(".scala")).toList
      } finally w.close()
    }

  private val byFile: Map[String, String] = {
    val engine = scalaFiles(engineSrc).map { f =>
      val rel = engineSrc.toPath.relativize(f.toPath).iterator()
      import scala.jdk.CollectionConverters._
      val parts = rel.asScala.map(_.toString).toList
      val module = parts match {
        case "graft" :: pkg :: _ :: Nil => pkg
        case "graft" :: _ :: Nil => "graft"
        case _ => "core" // engine glue inside Spark's packages
      }
      f.getName -> module
    }
    engine.toMap ++ scalaFiles(benchSrc).map(_.getName -> "result")
  }

  private val CallSite = """ at ([^\s:]+\.scala):\d+""".r.unanchored

  /** Module of a stage or job whose name is Spark's short call site. */
  def of(callSite: String): String = callSite match {
    case CallSite(file) => byFile.getOrElse(file, "spark")
    case _ => "spark"
  }
}

/** Per-stage executor totals, summed from task-end events. */
final class StageRec(val id: Int, val name: String) {
  var submitMs = 0.0
  var completeMs = 0.0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var fetchWaitMs = 0L
  var spillB = 0L
  var inputB = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  var completed = false
}

final class JobRec(val id: Int, val startMs: Double, val callSite: String) {
  var endMs: Double = Double.NaN
}

/** Spark's listener interfaces, registered on the session for the
  * traced run: job/stage/task events (scheduler and executor layers)
  * and query-execution events (planning phases). Only work started
  * while `recording` is on is counted.
  */
final class LayerListener extends SparkListener with QueryExecutionListener {
  @volatile var recording = false
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, StageRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private var planMs = 0L
  private var planEvents = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (recording) {
      val last = e.stageInfos.maxByOption(_.stageId)
      val rec = new JobRec(e.jobId, e.time.toDouble, last.map(_.name).getOrElse(""))
      jobs(e.jobId) = rec
      e.stageInfos.foreach { s =>
        stageJob.getOrElseUpdate(s.stageId, e.jobId)
        stages.getOrElseUpdate(s.stageId, new StageRec(s.stageId, s.name))
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get(i.stageId).foreach { s =>
      s.submitMs = i.submissionTime.getOrElse(0L).toDouble
      s.completeMs = i.completionTime.getOrElse(0L).toDouble
      s.completed = i.submissionTime.isDefined
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      val m = e.taskMetrics
      s.taskMs += e.taskInfo.duration
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputB += m.inputMetrics.bytesRead
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    addPlanning(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    addPlanning(qe)

  private def addPlanning(qe: QueryExecution): Unit = if (recording) {
    val phases = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    synchronized { planMs += ms; planEvents += 1 }
  }

  def recordedJobs: Seq[JobRec] = synchronized(jobs.values.toList)
  def recordedStages: Seq[StageRec] = synchronized(stages.values.filter(_.completed).toList)
  def jobOfStage(stageId: Int): Option[Int] = synchronized(stageJob.get(stageId))

  /** Layer totals over the recorded window. `windows` are the timed
    * intervals in which driver idle time (no job running) is counted.
    */
  def layerMetrics(modules: Modules, windows: Seq[(Double, Double)]): Map[String, Metric] = {
    val js = recordedJobs
    val ss = recordedStages
    val jobIv = js.filterNot(_.endMs.isNaN).map(j => (j.startMs, j.endMs))
    val idleMs = windows.map { case (lo, hi) =>
      (hi - lo) - Intervals.unionLength(jobIv, lo, hi)
    }.sum
    val tasks = ss.map(_.taskMs.size.toLong).sum
    def mb(b: Long) = b / (1024.0 * 1024.0)
    val straggler = ss.map { s =>
      if (s.taskMs.isEmpty) 0L
      else {
        val sorted = s.taskMs.sorted
        sorted.last - sorted(sorted.size / 2)
      }
    }.sum
    val checkpointJobs = js.count(j => j.callSite.toLowerCase.contains("checkpoint"))
    val (plan, planN) = synchronized((planMs, planEvents))
    val base = Map(
      "driver.plan_s" -> Metric(plan / 1e3, "s", planN),
      "driver.idle_s" -> Metric(idleMs / 1e3, "s", windows.size),
      "driver.jobs" -> Metric(js.size, "count", js.size),
      "driver.stages" -> Metric(ss.size, "count", ss.size),
      "driver.tasks" -> Metric(tasks, "count", tasks),
      "exec.run_s" -> Metric(ss.map(_.runMs).sum / 1e3, "s", tasks),
      "exec.cpu_s" -> Metric(ss.map(_.cpuNs).sum / 1e9, "s", tasks),
      "exec.gc_s" -> Metric(ss.map(_.gcMs).sum / 1e3, "s", tasks),
      "exec.straggler_s" -> Metric(straggler / 1e3, "s", ss.size),
      "shuffle.write_mb" -> Metric(mb(ss.map(_.shuffleWriteB).sum), "MB", tasks),
      "shuffle.read_mb" -> Metric(mb(ss.map(_.shuffleReadB).sum), "MB", tasks),
      "shuffle.fetch_wait_s" -> Metric(ss.map(_.fetchWaitMs).sum / 1e3, "s", tasks),
      "spill_mb" -> Metric(mb(ss.map(_.spillB).sum), "MB", tasks),
      "checkpoint.jobs" -> Metric(checkpointJobs, "count", js.size),
      "scan.input_mb" -> Metric(mb(ss.map(_.inputB).sum), "MB", tasks))
    val jobsByMod = js.groupBy(j => modules.of(j.callSite)).map { case (m, v) => m -> v.size }
    val execByMod = ss.groupBy(s => modules.of(s.name)).map { case (m, v) => m -> v.map(_.runMs).sum }
    val mods = (Modules.reported ++ jobsByMod.keys ++ execByMod.keys).distinct
    base ++ mods.flatMap { m =>
      val n = jobsByMod.getOrElse(m, 0)
      Seq(s"mod.$m.jobs" -> Metric(n, "count", n),
        s"mod.$m.exec_s" -> Metric(execByMod.getOrElse(m, 0L) / 1e3, "s", n))
    }
  }

  /** Job and stage spans, each job under the first of `holders` whose
    * interval holds its start, else under `fallback`.
    */
  def jobSpans(tracer: Tracer, holders: Seq[Span], fallback: Long): Seq[Span] = {
    val jobSpan = recordedJobs.filterNot(_.endMs.isNaN).map { j =>
      val parent = holders.find(h => j.startMs >= h.startMs - 1 && j.startMs <= h.endMs)
        .map(_.id).getOrElse(fallback)
      j.id -> Span(tracer.newId(), parent, "job", j.callSite, j.startMs, j.endMs)
    }.toMap
    val stageSpans = recordedStages.flatMap { s =>
      jobOfStage(s.id).flatMap(jobSpan.get).map(js =>
        Span(tracer.newId(), js.id, "stage", s.name, s.submitMs, s.completeMs))
    }
    jobSpan.values.toList ++ stageSpans
  }
}

object Modules {
  /** The modules whose job counts every run reports, exercised or not. */
  val reported: Seq[String] = Seq("queries", "ops", "functions", "dedup", "text", "core", "result")
}

object SelfTime {
  /** Per span kind: count, total and self time (span minus the part of
    * it its children cover), in ms.
    */
  def table(spans: Seq[Span]): Seq[(String, Int, Double, Double)] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.kind).toSeq.map { case (kind, ss) =>
      val self = ss.map { s =>
        val c = kids.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs))
        s.durMs - Intervals.unionLength(c, s.startMs, s.endMs)
      }.sum
      (kind, ss.size, ss.map(_.durMs).sum, self)
    }.sortBy(-_._3)
  }
}
