package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** `kq_operators`: the paper's KQ operator inventory plus the
  * stream-shaped batch ops, each a sub-second query on the generated
  * tables, forced through a noop sink. Each costs a few small jobs, so
  * driver-side analysis, planning, codegen and job scheduling dominate.
  */
object KqWorkload {
  /** One query per operator family of the KQ inventory (scan,
    * flatMap/aggregate, join, anti-join, last-writer-wins, grouping,
    * tumbling and session windows, analytic functions) and one
    * stream-shaped batch op: few enough that a pass is short and each
    * query runs several times in the timed window.
    */
  val queries: Seq[String] = Seq(
    "q01_scan", "q06_wordcount", "q07_join", "q09_anti", "q11_lww",
    "q13_tenant_group", "q23_window_tumbling", "q25_session_window", "q26_analytic",
    "q149_transitions")
  /** Seconds one pass took when the benchmark was written (4 vCPUs): a
    * run times `--seconds` / PassS passes, at least MinPasses. The count
    * is fixed per run, so a faster run does not also get more samples.
    */
  val PassS = 5.0
  val MinPasses = 4

  def run(ctx: RunContext): Unit = {
    val genDir = ctx.arg("gen")
    val verifyDir = s"${ctx.work}/verify"
    // Warm-up: one cold pass through graft.Verify, which also writes each
    // query's output and the oracle SQL for the check that follows the run.
    // Verify builds the session and stops it when done.
    val v0 = ctx.tracer.nowMs
    graft.Verify.main((Seq(genDir, verifyDir) ++ queries).toArray)
    val v1 = ctx.tracer.nowMs
    val spark = ctx.session("perfbench-kq")
    val fns = queries.map(n => n -> graft.queries.Queries.all(n))
    ctx.setupDone()
    ctx.note("setup_ms", Map("jvm_start" -> (v0 - ctx.arg("launched-ms").toDouble),
      "verify" -> (v1 - v0), "session" -> (ctx.tracer.nowMs - v1)))

    val walls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val passIv = mutable.ArrayBuffer.empty[(Double, Double)]
    var attempted = 0L
    val passes = math.max(MinPasses, math.round(ctx.seconds / PassS).toInt)
    ctx.tracer.span("workload", "kq_operators", 0L) { root =>
      ctx.startRecording(spark)
      (1 to passes).foreach { pass =>
        val p0 = ctx.tracer.nowMs
        ctx.tracer.span("pass", s"pass$pass", root) { pid =>
          fns.foreach { case (name, fn) =>
            attempted += 1
            ctx.tracer.span("query", name, pid) { _ =>
              val q0 = System.nanoTime()
              try {
                fn(spark, genDir).write.format("noop").mode("overwrite").save()
                walls.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - q0) / 1e9
              } catch {
                case e: Throwable => ctx.fail(name, e)
              }
            }
            // outside the query's timed span: drop whatever it cached or
            // checkpointed so the next query starts from the same state
            graft.ops.ScaleOps.releaseAll(spark, blocking = true)
          }
        }
        val p1 = ctx.tracer.nowMs
        passWalls += (p1 - p0) / 1e3
        passIv += ((p0, p1))
      }
      ctx.stopRecording(spark)
    }
    val samples = walls.values.flatten.toSeq
    ctx.attempted(attempted)
    ctx.note("queries", queries)
    ctx.note("passes", passWalls.size)
    ctx.note("pass_walls_s", passWalls.toList)
    ctx.note("query_walls_s", walls.map { case (n, w) => n -> w.toList }.toMap)
    // each query's lower-quartile time over the passes: the host's other
    // tenants slow some executions, the fast ones are the program's own cost
    val q1 = walls.values.map(w => Stats.pct(w.toSeq, 25)).toSeq
    ctx.e2e("throughput_per_s", Metric(q1.size / q1.sum, "1/s", samples.size))
    ctx.e2e("latency_ms", Metric(Stats.pct(q1, 50) * 1e3, "ms", samples.size))
    ctx.detail("pass_s", Metric(Stats.pct(passWalls.toSeq, 50), "s", passWalls.size))
    ctx.detail("query_p50_s", Metric(Stats.pct(samples, 50), "s", samples.size))
    ctx.detail("query_p90_s", Metric(Stats.pct(samples, 90), "s", samples.size))
    walls.foreach { case (n, w) =>
      ctx.layer(s"queries.$n.wall_s", Metric(Stats.pct(w.toSeq, 50), "s", w.size))
    }
    ctx.finishLayers(spark, passIv.toSeq, holderKind = "query")
    ctx.checkQueryCoverage()
    spark.stop()
  }
}
