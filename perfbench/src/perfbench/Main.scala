package perfbench

import org.apache.spark.sql.SparkSession

/** Everything one run shares across its phases. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val nproc: Int, val tracer: Option[Tracer], val probe: Option[Probe],
                val work: java.nio.file.Path, val rec: Record) {
  def traced: Boolean = tracer.isDefined
  /** A fresh directory under the run's work directory. */
  def dir(name: String): String = {
    val p = java.nio.file.Files.createTempDirectory(work, name + "_")
    p.toString
  }
}

/** One workload: built once per set-up repetition, measured once, checked. */
trait Workload {
  /** One complete set-up: inputs, compile/start and warm-up until the first
    * timed operation. Returns the API compile time in ms. The last
    * repetition is the one measured. */
  def setup(ctx: Ctx): Double
  /** Tears down a set-up that will not be measured (untimed). */
  def discard(): Unit
  /** Measures for `ctx.seconds`; fills `rate_per_s`, `slo_share`, the
    * mode-specific details, and attempted/failed counts. */
  def measure(ctx: Ctx): Unit
  /** Correctness checks against an independent recomputation. */
  def check(ctx: Ctx): Unit
}

/** Benchmark JVM entry point. Prints the full record as its last stdout
  * line; `perfbench/run.py` reduces it to the metrics BENCHMARK.json names.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  [--spans <file>]
  */
object Main {
  /** Set-up repetitions per run; `setup_s` reports their median. */
  val SetupReps = 3

  def workload(name: String): Workload = name match {
    case "backfill" => new Backfill
    case "serve_live" => new ServeLive
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts.getOrElse("workload", "")
    val rec = new Record
    var error: Option[String] = None
    var wl: Workload = null
    var ctx: Ctx = null
    try {
      val seed = opts("seed").toLong
      val seconds = opts("seconds").toInt
      val traced = opts.getOrElse("trace", "0") == "1"
      wl = workload(name)
      val nproc = Runtime.getRuntime.availableProcessors()
      val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
      val spark = graft.GraftSession.create(s"local[$nproc]")
      val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
      val work = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
      val tracer = if (traced) Some(new Tracer) else None
      val probe = if (traced) Some(new Probe(spark)) else None
      ctx = new Ctx(spark, seed, seconds, nproc, tracer, probe, work, rec)
      val reps = (1 to SetupReps).map { i =>
        val t0 = System.nanoTime()
        val compileMs = wl.setup(ctx)
        val secs = (System.nanoTime() - t0) / 1e9
        val d0 = System.nanoTime()
        if (i < SetupReps) wl.discard()
        rec.detail(s"setup_discard_s_$i") = (System.nanoTime() - d0) / 1e9
        (secs, compileMs)
      }
      rec.detail("setup_session_s") = sessionS
      rec.detail("setup_reps_s") = reps.map(_._1)
      rec.e2e("setup_s") = (sessionS + Stats.median(reps.map(_._1)), "s")
      rec.l("api.compile_ms", Stats.median(reps.map(_._2)), "ms")
      val gc0 = Proc.gcMs()
      wl.measure(ctx)
      rec.l("jvm.gc_ms", (Proc.gcMs() - gc0).toDouble, "ms")
      wl.check(ctx)
    } catch {
      case e: Throwable =>
        val sw = new java.io.StringWriter
        e.printStackTrace(new java.io.PrintWriter(sw))
        System.err.println(sw)
        error = Some(s"${e.getClass.getName}: ${e.getMessage}")
    }
    rec.e2e("peak_rss_mb") = (Proc.peakRssMb(), "MB")
    rec.l("jvm.heap_peak_mb", Proc.heapPeakMb(), "MB")
    if (ctx != null) {
      if (ctx.traced) rec.miss(Traces.dedupNames,
        "no workload runs StreamingDedup: dedup_stream is not part of this benchmark")
      ctx.tracer.foreach { t =>
        opts.get("spans").foreach(p => t.write(java.nio.file.Paths.get(p)))
        rec.l("trace.spans", t.count.toDouble, "count")
        rec.l("trace.recording_ms", t.recordingMs, "ms")
        rec.detail("trace.self_ms") = t.selfTimes().map { case (n, (c, tot, self)) =>
          n -> Map("spans" -> c, "total_ms" -> tot, "self_ms" -> self)
        }
      }
      ctx.probe.foreach(p => try p.close() catch { case _: Throwable => () })
    }
    if (rec.attempted <= 0) rec.attempted = 1
    if (error.nonEmpty) rec.failed = math.max(rec.failed, 1L)
    rec.failed = math.min(rec.failed, rec.attempted)
    rec.e2e("ok_share") = (1.0 - rec.failed.toDouble / rec.attempted, "fraction")
    rec.detail("error_share") = rec.failed.toDouble / rec.attempted
    val correct = error.isEmpty && rec.checks.nonEmpty && rec.checks.values.forall(identity) &&
      rec.invalid.isEmpty
    def metrics(m: scala.collection.Map[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val out = Map(
      "workload" -> name, "correct" -> correct, "error" -> error.orNull,
      "attempted" -> rec.attempted, "failed" -> rec.failed,
      "checks" -> rec.checks, "invalid" -> rec.invalid,
      "end_to_end" -> metrics(rec.e2e), "per_layer" -> metrics(rec.layer),
      "missing" -> rec.missing, "detail" -> rec.detail)
    System.out.println(Json(out))
    System.out.flush()
    // the record is out: end the JVM with everything it runs (streaming
    // queries, servers, load threads) instead of draining each first
    Runtime.getRuntime.halt(if (error.isEmpty) 0 else 3)
  }
}
