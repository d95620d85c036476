package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

object Stats {
  /** Percentile `p` (0–100) by linear interpolation between order statistics. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
}

/** Process CPU, GC and wall seconds, for the timed window's totals. */
object Jvm {
  def sample(): (Double, Double, Double) = {
    import scala.jdk.CollectionConverters._
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    (os.getProcessCpuTime / 1e9, gc / 1e3, System.nanoTime() / 1e9)
  }
}

/** Everything one run shares: its arguments, the tracer and listeners
  * of a traced run, and the record it writes for `run.py`.
  */
final class RunContext(args: Map[String, String]) {
  def arg(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))
  def argOr(k: String, d: String): String = args.getOrElse(k, d)

  val workload: String = arg("workload")
  val seed: Long = arg("seed").toLong
  val seconds: Double = arg("seconds").toDouble
  val trace: Boolean = arg("trace") == "1"
  val work: String = arg("work")
  val cpus: Int = graft.core.Graft.defaultCpus
  val tracer = new Tracer(s"$workload-s$seed-${System.currentTimeMillis()}", trace)
  val layers: Option[LayerListener] = if (trace) Some(new LayerListener) else None
  val modules = new Modules(new java.io.File("src/main/scala"),
    new java.io.File("perfbench/src/main/scala"))

  private var setupEndMs = Double.NaN
  private var attemptedN = 0L
  private var failedN = 0L
  private val failures = mutable.ArrayBuffer.empty[Map[String, String]]
  private val e2eM = mutable.LinkedHashMap.empty[String, Metric]
  private val detailM = mutable.LinkedHashMap.empty[String, Metric]
  private val layerM = mutable.LinkedHashMap.empty[String, Metric]
  private val report = mutable.LinkedHashMap.empty[String, Any]

  def session(name: String): SparkSession = {
    val spark = graft.core.Graft.configure(
      SparkSession.builder().master(s"local[$cpus]").appName(name), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    layers.foreach { l =>
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
    }
    spark
  }

  def setupDone(): Unit = setupEndMs = System.currentTimeMillis().toDouble

  /** Count layer work from here on (traced run); events of earlier work
    * are delivered first, so none of it leaks into the window.
    */
  def startRecording(spark: SparkSession): Unit = {
    layers.foreach { l =>
      org.apache.spark.PerfbenchShim.drainListeners(spark.sparkContext)
      l.recording = true
    }
    jvmMark = Some(Jvm.sample())
  }

  def stopRecording(spark: SparkSession): Unit = {
    jvmMark.foreach { case (cpu0, gc0, w0) =>
      val (cpu1, gc1, w1) = Jvm.sample()
      layer("jvm.cpu_s", Metric(cpu1 - cpu0, "s", 1))
      layer("jvm.gc_s", Metric(gc1 - gc0, "s", 1))
      layer("jvm.cpu_util", Metric((cpu1 - cpu0) / (w1 - w0), "cores", 1))
    }
    layers.foreach { l =>
      org.apache.spark.PerfbenchShim.drainListeners(spark.sparkContext)
      l.recording = false
    }
  }
  private var jvmMark: Option[(Double, Double, Double)] = None
  def attempted(n: Long): Unit = attemptedN += n
  def fail(what: String, e: Throwable): Unit = fail(what, s"${e.getClass.getName}: ${e.getMessage}")
  def fail(what: String, cause: String, n: Long = 1): Unit = {
    failedN += n
    if (failures.size < 100) failures += Map("what" -> what, "cause" -> cause.take(500))
  }
  def e2e(name: String, m: Metric): Unit = e2eM(name) = m
  def detail(name: String, m: Metric): Unit = detailM(name) = m
  def layer(name: String, m: Metric): Unit = layerM(name) = m
  def note(key: String, v: Any): Unit = report(key) = v

  /** After a timed window: wait for every listener event, then add the
    * scheduler/executor layer totals, the job and stage spans (each job
    * under the `holderKind` span it started in) and the self-time table.
    */
  def finishLayers(spark: SparkSession, windows: Seq[(Double, Double)], holderKind: String): Unit =
    layers.foreach { l =>
      org.apache.spark.PerfbenchShim.drainListeners(spark.sparkContext)
      l.layerMetrics(modules, windows).toSeq.sortBy(_._1).foreach { case (k, m) => layer(k, m) }
      val spans = tracer.spans
      val root = spans.find(_.kind == "workload").map(_.id).getOrElse(0L)
      // a job outside every holder hangs off the window (pass or phase) it ran in
      val holders = spans.filter(_.kind == holderKind) ++
        spans.filter(s => s.kind == "pass" || s.kind == "phase")
      l.jobSpans(tracer, holders, root).foreach(tracer.add)
      note("self_time_ms", SelfTime.table(tracer.spans).map { case (k, n, tot, self) =>
        Map("kind" -> k, "spans" -> n, "total_ms" -> tot, "self_ms" -> self)
      })
      layer("trace.spans", Metric(tracer.spans.size, "count", tracer.spans.size))
    }

  /** Each query's wall time must be accounted for by driver idle time
    * (no job running at all) plus the jobs attributed to that query; a
    * job from elsewhere running inside the query shows as a shortfall.
    */
  def checkQueryCoverage(): Unit = if (trace) {
    val spans = tracer.spans
    val jobs = spans.filter(_.kind == "job")
    val allJobs = jobs.map(j => (j.startMs, j.endMs))
    val byParent = jobs.groupBy(_.parent)
    val cov = spans.filter(_.kind == "query").map { q =>
      val idle = q.durMs - Intervals.unionLength(allJobs, q.startMs, q.endMs)
      val own = byParent.getOrElse(q.id, Nil)
      val ownUnion = Intervals.unionLength(own.map(j => (j.startMs, j.endMs)), q.startMs, q.endMs)
      val overhang = own.count(_.endMs > q.endMs + 1.0)
      (q.name, (idle + ownUnion) / q.durMs, overhang)
    }
    val minCov = if (cov.isEmpty) Double.NaN else cov.map(_._2).min
    note("query_coverage", Map(
      "queries" -> cov.size,
      "min_coverage" -> minCov,
      "short_queries" -> cov.filter(_._2 < 0.999).map(_._1).distinct,
      "jobs_overhanging" -> cov.map(_._3).sum,
      "jobs_between_queries" -> jobs.count(j => spans.exists(p => p.id == j.parent && p.kind == "pass"))))
  }

  def writeRecord(path: String): Unit = {
    if (trace) {
      val f = s"$work/spans.jsonl"
      val w = new java.io.PrintWriter(f, "UTF-8")
      try tracer.spans.sortBy(_.startMs).foreach { s =>
        w.println(Json.render(Map("run" -> tracer.runId, "id" -> s.id, "parent" -> s.parent,
          "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
      } finally w.close()
      note("spans_file", f)
    }
    val rss = scala.util.Try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
      line.get.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    layer("jvm.rss_peak_mb", Metric(rss, "MB", 1))
    Json.write(path, Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "run_id" -> tracer.runId,
      "cpus" -> cpus, "seconds" -> seconds, "setup_end_ms" -> setupEndMs,
      "attempted" -> attemptedN, "failed" -> failedN, "failures" -> failures.toList,
      "e2e" -> e2eM, "detail" -> detailM, "layers" -> layerM, "report" -> report))
  }
}

/** Entry point of the benchmark JVM; `run.py` builds the inputs,
  * launches this, and reads back the record it writes.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *        --work DIR --record FILE [--gen DIR] [workload options]
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val ctx = new RunContext(args)
    ctx.workload match {
      case "kq_operators" => KqWorkload.run(ctx)
      case "topic_wordcount" => TopicWorkload.run(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    ctx.writeRecord(ctx.arg("record"))
  }
}
