package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import graft.streaming.{Message, OutMessage, StatefulOps, TopicProcessor, TopicProcessorConfig}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit, max_by}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** `topic_wordcount`: kasper's word-count topology (A4/KQ-6) on the
  * micro-batch engine. Seeded plain-text messages (8 Zipf-drawn words
  * over a seeded vocabulary) feed a MemoryStream; the topology is
  * `TopicProcessor.runWith` → `StatefulOps.runningCountTws` on RocksDB
  * → `OutMessage` → a parquet-append `foreachBatch` sink.
  *
  * Two timed phases share one query: a closed loop of large and small
  * batches in turn, each waiting for its commit, then an open loop at a
  * fixed offered rate whose messages are stamped with their due time; a
  * message's latency runs from that due time to its batch's commit.
  */
object TopicWorkload {
  private val WordsPerMessage = 8

  /** Vocabulary of distinct seeded words (rank r of the Zipf law is
    * word r) and `n` messages drawn from it, as word ids.
    */
  final class Inputs(seed: Long, vocabSize: Int, n: Int) {
    private val rng = new java.util.SplittableRandom(seed)
    val vocab: Array[String] = {
      val seen = mutable.LinkedHashSet.empty[String]
      while (seen.size < vocabSize) {
        val len = 3 + rng.nextInt(8)
        seen += new String(Array.fill(len)(('a' + rng.nextInt(26)).toChar))
      }
      seen.toArray
    }
    private val cdf: Array[Double] = {
      val w = Array.tabulate(vocabSize)(r => 1.0 / (r + 1))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    val wordIds: Array[Int] = Array.fill(n * WordsPerMessage) {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(if (i >= 0) i else -i - 1, vocabSize - 1)
    }
    val values: Array[Array[Byte]] = Array.tabulate(n) { m =>
      (0 until WordsPerMessage).map(k => vocab(wordIds(m * WordsPerMessage + k)))
        .mkString(" ").getBytes(UTF_8)
    }
  }

  /** Every progress event of the run, kept for latency and the stream layer. */
  private final class ProgressLog extends StreamingQueryListener {
    val events = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized { events += e.progress }
    def all: Seq[StreamingQueryProgress] = synchronized(events.toList)
  }

  /** The word-count topology: kasper's `examples/word_count_example.go`. */
  def topology(name: String, checkpoint: String): TopicProcessor = new TopicProcessor(
    TopicProcessorConfig(name = name, inputTopics = Seq("words"),
      batchWait = "100 milliseconds", checkpointDir = checkpoint),
    in => {
      import in.sparkSession.implicits._
      val words = in.flatMap(m => new String(m.value, UTF_8).split(" ").filter(_.nonEmpty))
      StatefulOps.runningCountTws(words).map(kc =>
        OutMessage("word-counts", kc.key.getBytes(UTF_8), kc.count.toString.getBytes(UTF_8)))
    })

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  private def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
  private def commitMs(p: StreamingQueryProgress): Double = startMs(p) + dur(p, "triggerExecution")
  private def endOffset(p: StreamingQueryProgress): Long =
    Option(p.sources.headOption.map(_.endOffset).orNull).map(_.trim.toLong).getOrElse(-1L)

  def run(ctx: RunContext): Unit = {
    val vocabSize = ctx.argOr("vocab", "50000").toInt
    val batch = ctx.argOr("batch", "10000").toInt
    val warmupBatches = ctx.argOr("warmup-batches", "3").toInt
    val rate = ctx.argOr("rate", "7000").toDouble
    val probe = ctx.argOr("probe-batch", "1000").toInt
    // a fixed number of closed-loop batch pairs, so a faster run does not
    // also get more samples: ~1.5 s a pair when the benchmark was written
    // (4 vCPUs), so the pairs take about 75% of `--seconds`
    val drainPairs = math.max(2, math.round(ctx.seconds / 2).toInt)
    val openS = ctx.seconds * 0.2
    val drainEnd = (warmupBatches + drainPairs) * (batch + probe)
    val n = drainEnd + (rate * openS * 1.2).toInt + 1

    val s0 = ctx.tracer.nowMs
    val spark = ctx.session("perfbench-topic")
    graft.core.Graft.useRocksDbStateStore(spark)
    val s1 = ctx.tracer.nowMs
    val inputs = new Inputs(ctx.seed, vocabSize, n)
    val s2 = ctx.tracer.nowMs
    val progress = new ProgressLog
    spark.streams.addListener(progress)

    import spark.implicits._
    val in = MemoryStream[Message](spark, ctx.cpus)
    val outDir = s"${ctx.work}/sink"
    val sinks = mutable.ArrayBuffer.empty[(Long, Double, Double)]
    val tp = topology(s"perfbench-wc-${ctx.seed}", s"${ctx.work}/checkpoint")
    val q = tp.runWith(in.toDS()) { (out, batchId) =>
      val t0 = ctx.tracer.nowMs
      out.withColumn("batch_id", lit(batchId)).write.mode("append").parquet(outDir)
      val t1 = ctx.tracer.nowMs
      sinks.synchronized { sinks += ((batchId, t0, t1)) }
    }

    // chunks handed to the stream: (memory-stream offset, first msg, end msg, send ms)
    val chunks = mutable.ArrayBuffer.empty[(Long, Int, Int, Double)]
    val due = new Array[Double](n)
    var sent = 0
    def send(upTo: Int, dueMs: Int => Double): Unit = {
      val now = ctx.tracer.nowMs
      val msgs = (sent until upTo).map { i =>
        due(i) = dueMs(i)
        Message("words", 0, i.toLong, Array.emptyByteArray, inputs.values(i),
          new java.sql.Timestamp(due(i).toLong))
      }
      val off = in.addData(msgs).json().trim.toLong
      chunks += ((off, sent, upTo, now))
      sent = upTo
    }
    // closed loop: a batch of each size in turn, each waiting for its commit
    val batchMs = mutable.ArrayBuffer.empty[Double]
    val probeMs = mutable.ArrayBuffer.empty[Double]
    def closedBatch(size: Int, into: mutable.ArrayBuffer[Double]): Unit = {
      val b0 = ctx.tracer.nowMs
      send(sent + size, _ => ctx.tracer.nowMs)
      q.processAllAvailable()
      into += ctx.tracer.nowMs - b0
    }
    def drainPair(): Unit = {
      closedBatch(batch, batchMs)
      closedBatch(probe, probeMs)
    }

    (1 to warmupBatches).foreach(_ => drainPair())
    ctx.setupDone()
    ctx.note("setup_ms", Map("jvm_start" -> (s0 - ctx.arg("launched-ms").toDouble), "session" -> (s1 - s0), "generate" -> (s2 - s1),
      "warmup" -> (ctx.tracer.nowMs - s2)))

    val phases = mutable.ArrayBuffer.empty[(String, Double, Double)]
    var drained = 0
    var openFirst = 0
    var genLateMax = 0.0
    ctx.tracer.span("workload", "topic_wordcount", 0L) { root =>
      ctx.startRecording(spark)
      val d0 = ctx.tracer.nowMs
      (1 to drainPairs).foreach { _ =>
        drainPair()
        drained += batch + probe
      }
      val d1 = ctx.tracer.nowMs
      phases += (("drain", d0, d1))

      openFirst = sent
      val o0 = ctx.tracer.nowMs
      def dueOf(i: Int): Double = o0 + (i - openFirst) * 1e3 / rate
      while (ctx.tracer.nowMs - o0 < openS * 1e3 && sent < n) {
        val now = ctx.tracer.nowMs
        val upTo = math.min(n, openFirst + ((now - o0) * rate / 1e3).toInt + 1)
        if (upTo > sent) {
          genLateMax = math.max(genLateMax, now - dueOf(sent))
          send(upTo, dueOf)
        }
        Thread.sleep(20)
      }
      q.processAllAvailable()
      phases += (("open", o0, ctx.tracer.nowMs))
      ctx.stopRecording(spark)
      phases.foreach { case (name, a, b) => ctx.tracer.add(Span(ctx.tracer.newId(), root, "phase", name, a, b)) }
    }
    q.stop()
    org.apache.spark.PerfbenchShim.drainListeners(spark.sparkContext)

    // --- latency: each open-loop message from its due time to its batch's commit
    val triggers = progress.all.filter(_.numInputRows > 0).sortBy(_.batchId)
    val byEnd = triggers.map(p => (endOffset(p), commitMs(p))).toArray
    def commitOf(offset: Long): Double =
      byEnd.find(_._1 >= offset).map(_._2).getOrElse(Double.NaN)
    val lat = mutable.ArrayBuffer.empty[Double]
    chunks.filter(_._2 >= openFirst).foreach { case (off, a, b, _) =>
      val c = commitOf(off)
      (a until b).foreach(i => lat += c - due(i))
    }
    // closed loop: the lower-quartile time of the timed batches of each
    // size. The host's other tenants slow some batches; the fast ones are
    // the program's own cost.
    val bigMs = batchMs.drop(warmupBatches).toSeq
    val smallMs = probeMs.drop(warmupBatches).toSeq
    ctx.e2e("throughput_per_s", Metric(batch / (Stats.pct(bigMs, 25) / 1e3), "1/s", bigMs.size))
    ctx.e2e("latency_ms", Metric(Stats.pct(smallMs, 25), "ms", smallMs.size))
    ctx.detail("drain_msgs_per_s", Metric(batch / (Stats.pct(bigMs, 50) / 1e3), "1/s", bigMs.size))
    ctx.detail("commit_latency_p50_ms", Metric(Stats.pct(smallMs, 50), "ms", smallMs.size))
    ctx.detail("event_latency_p50_ms", Metric(Stats.pct(lat.toSeq, 50), "ms", lat.size))
    ctx.detail("event_latency_p90_ms", Metric(Stats.pct(lat.toSeq, 90), "ms", lat.size))
    ctx.detail("event_latency_p99_ms", Metric(Stats.pct(lat.toSeq, 99), "ms", lat.size))
    ctx.detail("open_offered_msgs_per_s", Metric(rate, "1/s", sent - openFirst))

    // --- stream and state layers, over the triggers of the timed phases
    val (w0, w1) = (phases.head._2, phases.last._3)
    val timed = triggers.filter(p => startMs(p) >= w0 && startMs(p) <= w1)
    val trig = timed.map(p => dur(p, "triggerExecution"))
    val sinkTimed = sinks.synchronized(sinks.toList).filter { case (_, a, _) => a >= w0 && a <= w1 }
    val backlog = timed.map { p =>
      val c = commitMs(p)
      val committed = chunks.filter(_._1 <= endOffset(p)).map(ch => ch._3 - ch._2).sum
      val offered = chunks.filter(_._4 <= c).map(ch => ch._3 - ch._2).sum
      (offered - committed).toDouble
    }
    val nt = timed.size.toLong
    val state = timed.flatMap(_.stateOperators.headOption)
    ctx.layer("stream.trigger_ms_p50", Metric(Stats.pct(trig, 50), "ms", nt))
    ctx.layer("stream.trigger_ms_p90", Metric(Stats.pct(trig, 90), "ms", nt))
    ctx.layer("stream.plan_ms", Metric(timed.map(dur(_, "queryPlanning")).sum, "ms", nt))
    ctx.layer("stream.addbatch_ms", Metric(timed.map(dur(_, "addBatch")).sum, "ms", nt))
    ctx.layer("stream.log_ms", Metric(timed.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")).sum, "ms", nt))
    ctx.layer("stream.sink_ms", Metric(sinkTimed.map { case (_, a, b) => b - a }.sum, "ms", sinkTimed.size))
    ctx.layer("stream.triggers", Metric(nt, "count", nt))
    ctx.layer("stream.backlog_max_msgs", Metric(backlog.maxOption.getOrElse(0.0), "count", nt))
    ctx.layer("stream.gen_late_max_ms", Metric(genLateMax, "ms", chunks.size))
    ctx.layer("state.rows_total", Metric(state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count", state.size))
    ctx.layer("state.rows_updated", Metric(state.map(_.numRowsUpdated.toDouble).sum, "count", state.size))
    ctx.layer("state.commit_ms", Metric(state.map(_.commitTimeMs.toDouble).sum, "ms", state.size))
    ctx.layer("state.memory_mb", Metric(state.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0) / (1024.0 * 1024.0), "MB", state.size))

    if (ctx.trace) {
      // trigger spans from the progress events, their phases laid out in
      // engine order; each sink body (timed here) nests in its addBatch
      val phaseSpans = ctx.tracer.spans.filter(_.kind == "phase")
      val addBatchOf = mutable.HashMap.empty[Long, Long]
      timed.foreach { p =>
        val s = startMs(p)
        val e = commitMs(p)
        val parent = phaseSpans.find(ph => s >= ph.startMs && s <= ph.endMs).map(_.id).getOrElse(0L)
        val tid = ctx.tracer.newId()
        ctx.tracer.add(Span(tid, parent, "trigger", s"batch${p.batchId}", s, e))
        var t = s
        Seq("latestOffset" -> "offsets", "walCommit" -> "log", "queryPlanning" -> "plan").foreach { case (k, kind) =>
          ctx.tracer.add(Span(ctx.tracer.newId(), tid, kind, k, t, t + dur(p, k))); t += dur(p, k)
        }
        val c0 = e - dur(p, "commitOffsets")
        ctx.tracer.add(Span(ctx.tracer.newId(), tid, "log", "commitOffsets", c0, e))
        val aid = ctx.tracer.newId()
        ctx.tracer.add(Span(aid, tid, "addBatch", "addBatch", c0 - dur(p, "addBatch"), c0))
        addBatchOf(p.batchId) = aid
      }
      sinkTimed.foreach { case (id, a, b) =>
        ctx.tracer.add(Span(ctx.tracer.newId(), addBatchOf.getOrElse(id, 0L), "sink", s"sink$id", a, b))
      }
    }
    ctx.finishLayers(spark, phases.map(p => (p._2, p._3)).toSeq, holderKind = "sink")

    // --- check: the last count emitted for each word is its exact count
    val want = new Array[Long](vocabSize)
    (0 until sent * WordsPerMessage).foreach(i => want(inputs.wordIds(i)) += 1)
    val got = spark.read.parquet(outDir)
      .select(col("key").cast("string").as("word"), col("value").cast("string").cast("long").as("n"), col("batch_id"))
      .groupBy("word").agg(max_by(col("n"), col("batch_id")).as("n"))
      .as[(String, Long)].collect().toMap
    val index = inputs.vocab.zipWithIndex.toMap
    val wrong = mutable.HashSet.empty[Int]
    (0 until vocabSize).foreach { w =>
      if (got.getOrElse(inputs.vocab(w), 0L) != want(w)) wrong += w
    }
    val unexpected = got.keys.count(k => !index.contains(k))
    val badMsgs = (0 until sent).count { m =>
      (0 until WordsPerMessage).exists(k => wrong.contains(inputs.wordIds(m * WordsPerMessage + k)))
    }
    ctx.attempted(sent.toLong)
    if (badMsgs > 0 || unexpected > 0)
      ctx.fail("final counts", s"${wrong.size} words with a wrong final count, " +
        s"$unexpected unexpected words", n = math.max(badMsgs, 1).toLong)
    ctx.note("messages", Map("sent" -> sent, "drained" -> drained, "open" -> (sent - openFirst),
      "vocab" -> vocabSize, "batch" -> batch, "warmup_batches" -> warmupBatches,
      "distinct_words" -> got.size, "probe_batch" -> probe, "drain_batch_ms" -> batchMs.toList, "probe_batch_ms" -> probeMs.toList))
    spark.stop()
  }
}
