package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One completed Spark stage, summed over its tasks. */
final case class StageRec(stageId: Int, submitMs: Long, doneMs: Long,
                          tasks: Int, cpuMs: Double, runMs: Long, gcMs: Long,
                          shuffleWrite: Long, shuffleRead: Long, fetchWaitMs: Long,
                          spill: Long, taskMs: IndexedSeq[Long]) {
  def wallMs: Long = doneMs - submitMs
}

/** The benchmark's window onto Spark, registered only on traced runs:
  * stage task metrics from a [[SparkListener]] and every trigger's
  * [[StreamingQueryProgress]] (the Structured Streaming monitoring
  * contract). Nothing here reaches into graft. */
final class Probe(spark: SparkSession) {
  private val taskAcc = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Array[Long]]]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val jobStarts = mutable.ArrayBuffer.empty[Long]
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  @volatile private var events = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStarts += e.time; events += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        taskAcc.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += Array(
          e.taskInfo.duration, m.executorCpuTime / 1000L, m.executorRunTime,
          m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      }
      events += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val ts = taskAcc.remove(i.stageId).getOrElse(mutable.ArrayBuffer.empty)
      def sum(k: Int) = ts.map(_(k)).sum
      stages += StageRec(i.stageId,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), ts.length,
        sum(1) / 1000.0, sum(2), sum(3), sum(4), sum(5), sum(6), sum(7),
        ts.map(_(0)).toIndexedSeq)
      events += 1
    }
  }
  private val qListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probe.this.synchronized { progress += e.progress; events += 1 }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
  spark.sparkContext.addSparkListener(listener)
  spark.streams.addListener(qListener)

  /** Listener delivery is asynchronous: wait until no event arrived for a
    * quiet period (bounded) before reading. */
  def settle(quietMs: Long = 300, capMs: Long = 5000): Unit = {
    val end = System.currentTimeMillis() + capMs
    var last = -1L
    while (System.currentTimeMillis() < end && events != last) {
      last = events; Thread.sleep(quietMs)
    }
  }

  def stagesIn(t0: Long, t1: Long): Seq[StageRec] =
    synchronized(stages.filter(s => s.doneMs >= t0 && s.doneMs <= t1).toSeq)
  def jobsIn(t0: Long, t1: Long): Int =
    synchronized(jobStarts.count(t => t >= t0 && t <= t1))
  def progressIn(t0: Long, t1: Long, queryId: String): Seq[StreamingQueryProgress] =
    synchronized(progress.filter { p =>
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli
      p.id.toString == queryId && t >= t0 && t <= t1
    }.toSeq)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(qListener)
  }
}

object Probe {
  def dur(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
  def startMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli

  /** Spark-stage layer metrics for a set of stages under `prefix`. */
  def stageMetrics(rec: Record, prefix: String, st: Seq[StageRec], jobs: Int): Unit = {
    rec.detail(s"$prefix.stage_list") = st.map(s => Map("id" -> s.stageId, "tasks" -> s.tasks,
      "wall_ms" -> s.wallMs, "run_ms" -> s.runMs, "cpu_ms" -> s.cpuMs,
      "shuffle_read" -> s.shuffleRead, "shuffle_write" -> s.shuffleWrite))
    rec.l(s"$prefix.jobs", jobs, "count")
    rec.l(s"$prefix.stages", st.size, "count")
    rec.l(s"$prefix.cpu_ms", st.map(_.cpuMs).sum, "ms")
    rec.l(s"$prefix.run_ms", st.map(_.runMs).sum.toDouble, "ms")
    rec.l(s"$prefix.gc_ms", st.map(_.gcMs).sum.toDouble, "ms")
    rec.l(s"$prefix.shuffle_write_bytes", st.map(_.shuffleWrite).sum.toDouble, "bytes")
    rec.l(s"$prefix.shuffle_read_bytes", st.map(_.shuffleRead).sum.toDouble, "bytes")
    rec.l(s"$prefix.fetch_wait_ms", st.map(_.fetchWaitMs).sum.toDouble, "ms")
    rec.l(s"$prefix.spill_bytes", st.map(_.spill).sum.toDouble, "bytes")
    // skew of the heaviest stage: its slowest task over its median task
    val heavy = st.filter(_.taskMs.nonEmpty).sortBy(-_.runMs).headOption
    rec.l(s"$prefix.task_skew", heavy.map { s =>
      s.taskMs.max / math.max(1.0, Stats.median(s.taskMs.map(_.toDouble)))
    }.getOrElse(Double.NaN), "ratio")
  }

  /** Trigger-layer metrics of one query's progress events. */
  def triggerMetrics(rec: Record, prefix: String, ps: Seq[StreamingQueryProgress],
                     windowMs: Long): Unit = {
    val trig = ps.map(dur(_, "triggerExecution").toDouble)
    def med(k: String) = Stats.median(ps.map(dur(_, k).toDouble))
    rec.l(s"$prefix.triggers", ps.size, "count")
    rec.l(s"$prefix.trigger_ms", Stats.median(trig), "ms")
    rec.l(s"$prefix.trigger_p99_ms", Stats.tail(trig)._2, "ms")
    rec.l(s"$prefix.plan_ms", med("queryPlanning"), "ms")
    rec.l(s"$prefix.add_batch_ms", med("addBatch"), "ms")
    rec.l(s"$prefix.wal_commit_ms", med("walCommit"), "ms")
    rec.l(s"$prefix.commit_offsets_ms", med("commitOffsets"), "ms")
    val ops = ps.flatMap(_.stateOperators)
    rec.l(s"$prefix.state_commit_ms", Stats.median(ps.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)), "ms")
    rec.l(s"$prefix.state_update_ms", Stats.median(ps.map(_.stateOperators.map(_.allUpdatesTimeMs).sum.toDouble)), "ms")
    rec.l(s"$prefix.state_rows", ps.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0), "rows")
    rec.l(s"$prefix.state_bytes", ps.lastOption.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0), "bytes")
    if (ops.isEmpty) rec.missing(s"$prefix.state_commit_ms") = "query has no state operator"
    val busy = trig.sum
    rec.l(s"$prefix.idle_ms", math.max(0.0, windowMs - busy), "ms")
    rec.l(s"$prefix.fixed_share",
      if (busy <= 0) Double.NaN else (busy - ps.map(dur(_, "addBatch")).sum) / busy, "ratio")
    rec.l("sources.rows_per_trigger", Stats.median(ps.map(_.numInputRows.toDouble)), "rows")
  }
}

/** In-memory spans, written out when the run ends. A span's self time is
  * its duration minus the part of it its children cover. */
final class Tracer {
  final case class Span(id: Long, parent: Long, trace: String, name: String,
                        startUs: Long, endUs: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val costNs = new java.util.concurrent.atomic.AtomicLong(0)
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()

  def nowUs(): Long = baseMs * 1000 + (System.nanoTime() - baseNs) / 1000

  /** Records a closed span; returns its id (the parent of later children). */
  def add(name: String, trace: String, startUs: Long, endUs: Long, parent: Long = 0): Long = {
    val t0 = System.nanoTime()
    val id = ids.incrementAndGet()
    val s = Span(id, parent, trace, name, startUs, endUs)
    spans.synchronized(spans += s)
    costNs.addAndGet(System.nanoTime() - t0)
    id
  }
  def count: Int = spans.synchronized(spans.size)
  def recordingMs: Double = costNs.get / 1e6

  /** Per span name: (spans, total ms, self ms). */
  def selfTimes(): Map[String, (Int, Double, Double)] = {
    val all = spans.synchronized(spans.toVector)
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      val total = ss.map(s => (s.endUs - s.startUs) / 1000.0).sum
      val self = ss.map { s =>
        val cover = kids.getOrElse(s.id, Vector.empty)
          .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L; var hi = Long.MinValue
        cover.foreach { case (a, b) =>
          val lo = math.max(a, hi)
          if (b > lo) covered += b - lo
          hi = math.max(hi, b)
        }
        (s.endUs - s.startUs - covered) / 1000.0
      }.sum
      name -> ((ss.size, total, self))
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.synchronized(spans.foreach { s =>
      w.write(Json(Map("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace,
        "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs)))
      w.newLine()
    }) finally w.close()
  }
}

/** Span helpers shared by the workloads. */
object Traces {
  /** Times an API compile call; records an `api.compile` span when traced. */
  def compile[T](ctx: Ctx)(body: => T): (T, Double) = {
    val s = ctx.tracer.map(_.nowUs())
    val t0 = System.nanoTime()
    val out = body
    val ms = (System.nanoTime() - t0) / 1e6
    ctx.tracer.foreach(t => t.add("api.compile", "setup", s.get, t.nowUs()))
    (out, ms)
  }

  private val phases = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
    "walCommit", "commitOffsets")

  /** One span per trigger, its progress phases as children laid out in
    * execution order (progress events carry durations, not start times). */
  def triggers(t: Tracer, label: String, ps: Seq[StreamingQueryProgress]): Unit =
    ps.foreach { p =>
      val s = Probe.startMs(p) * 1000
      val trace = s"$label/${p.batchId}"
      val id = t.add(s"$label.trigger", trace, s, s + Probe.dur(p, "triggerExecution") * 1000)
      var at = s
      phases.foreach { ph =>
        val d = Probe.dur(p, ph) * 1000
        if (d > 0) { t.add(s"$label.$ph", trace, at, at + d, id); at += d }
      }
    }

  /** Per-layer names each workload reports only where it exercises them. */
  val triggerNames = Seq("streaming.triggers", "streaming.trigger_ms", "streaming.trigger_p99_ms",
    "streaming.plan_ms", "streaming.add_batch_ms", "streaming.wal_commit_ms",
    "streaming.commit_offsets_ms", "streaming.state_commit_ms", "streaming.state_update_ms",
    "streaming.state_rows", "streaming.state_bytes", "streaming.idle_ms",
    "streaming.fixed_share", "sources.rows_per_trigger", "streaming.backlog_ms",
    "sources.latest_offset_ms", "sources.get_batch_ms")
  val sweepOnly = Seq("streaming.sweep_jobs", "streaming.sweep_stages", "streaming.sweep_cpu_ms",
    "streaming.sweep_run_ms", "streaming.sweep_gc_ms", "streaming.sweep_shuffle_write_bytes",
    "streaming.sweep_shuffle_read_bytes", "streaming.sweep_fetch_wait_ms",
    "streaming.sweep_spill_bytes", "streaming.sweep_task_skew", "streaming.sweep_speedup_4v1")
  val servingNames = Seq("serving.direct_eval_ms", "serving.direct_eval_p99_ms",
    "serving.http_overhead_ms", "serving.live_share", "serving.repeat_read_share",
    "serving.non200", "serving.exhausted_reads", "serving.alarmed_shards",
    "serving.feed_batch_ms", "serving.upsert_batch_ms", "serving.write_triggers",
    "serving.log_bytes", "serving.compactions", "serving.stale_p50_ms")
  val dedupNames = Seq("operators.signature_cpu_ms", "streaming.dedup_state_cpu_ms",
    "streaming.dedup_comparisons", "streaming.dedup_pairs", "streaming.dedup_pair_yield",
    "streaming.dedup_overflows", "streaming.dedup_state_commit_ms")
  val loadgenNames = Seq("loadgen.late_p99_ms")
}
