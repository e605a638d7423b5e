package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr

import graft.api.WindowSql

/** Batch / training-data mode: the window SQL of the feature pipeline over
  * a seeded historical event table through `WindowSql.runBatchAuto`. Its
  * long ML-family frames route it to the engine's tiled sweep; the output
  * is written as the training set. One large sweep: no triggers, no state
  * store, so a fold/tile/shuffle gain shows here and a per-trigger gain
  * must not. */
final class Backfill extends Workload {
  import Backfill._

  private var input: DataFrame = _
  private var inDir: String = _
  private var outDir: String = _

  /** Seeded history: `Rows` events over `SpanMs`, keys under Zipf-like
    * skew (squared uniform), 8 categories. Built by Spark expressions on the
    * row id, so a seed names the same table on every run. */
  private def history(ctx: Ctx): DataFrame = {
    val s = ctx.seed
    ctx.spark.range(Rows).select(
      expr(s"concat('k', CAST(floor(pow(pmod(xxhash64(id, $s, 1), 1000000) / 1000000.0, 2) * $Keys) AS INT))").as("key"),
      expr(s"$BaseMs + pmod(xxhash64(id, $s, 2), $SpanMs)").as("ts_ms"),
      expr(s"CAST(pmod(xxhash64(id, $s, 3), 10000) AS DOUBLE) / 100").as("v"),
      expr(s"concat('c', CAST(pmod(xxhash64(id, $s, 4), $Categories) AS INT))").as("cate"))
  }

  def setup(ctx: Ctx): Double = {
    val dir = ctx.dir("bf_in")
    history(ctx).write.mode("overwrite").parquet(dir)
    val df = ctx.spark.read.parquet(dir)
    val (_, compileMs) = Traces.compile(ctx) {
      WindowSql.compile(ctx.spark, Sql).fold(e => sys.error(s"compile: $e"), identity)
    }
    // warm-up: one full sweep, written like the timed ones
    WindowSql.runBatchAuto(ctx.spark, Sql, Map("events" -> df))
      .write.mode("overwrite").parquet(ctx.dir("bf_warm"))
    input = df; inDir = dir
    compileMs
  }

  def discard(): Unit = ()

  /** One complete backfill: compile, sweep, write the training set. */
  private def once(ctx: Ctx, trace: String): Double = {
    outDir = ctx.dir("bf_out")
    val t0 = System.nanoTime()
    val s = ctx.tracer.map(_.nowUs())
    WindowSql.runBatchAuto(ctx.spark, Sql, Map("events" -> input))
      .write.mode("overwrite").parquet(outDir)
    ctx.tracer.foreach(t => t.add("backfill.run", trace, s.get, t.nowUs()))
    (System.nanoTime() - t0) / 1e9
  }

  def measure(ctx: Ctx): Unit = {
    val rec = ctx.rec
    val t0 = System.currentTimeMillis()
    val end = t0 + ctx.seconds * 1000L
    val secs = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (secs.size < MinRuns || System.currentTimeMillis() < end)
      secs += once(ctx, s"backfill/${secs.size}")
    val t1 = System.currentTimeMillis()
    val ms = secs.map(_ * 1000)
    val (p50, _) = rec.dist("backfill_run", ms)
    rec.e2e("slo_share") = (ms.count(_ <= SloMs).toDouble / ms.size, "fraction")
    rec.e2e("rate_per_s") = (Rows / (p50 / 1000), "1/s")
    rec.detail("backfill_rows") = Rows
    rec.detail("backfill_rows_per_s") = Rows / (p50 / 1000)
    rec.attempted += secs.size
    rec.l("loadgen.threads", 0, "count")
    rec.l("streaming.triggers", 0, "count")

    ctx.probe.foreach { probe =>
      probe.settle()
      val st = probe.stagesIn(t0, t1)
      Probe.stageMetrics(rec, "spark", st, probe.jobsIn(t0, t1))
      // the sweep is every stage of the timed runs: report it under the
      // sweep names as well
      Seq("jobs", "stages", "cpu_ms", "run_ms", "gc_ms", "shuffle_write_bytes",
        "shuffle_read_bytes", "fetch_wait_ms", "spill_bytes", "task_skew").foreach { k =>
        rec.layer.get(s"spark.$k").foreach(v => rec.layer(s"streaming.sweep_$k") = v)
      }
      ctx.tracer.foreach(t => st.foreach(s =>
        t.add("backfill.stage", s"stage/${s.stageId}", s.submitMs * 1000, s.doneMs * 1000)))
    }
    rec.miss(Traces.triggerNames.filterNot(_ == "streaming.triggers"),
      "backfill runs no streaming query")
    rec.miss(Traces.servingNames ++ Traces.loadgenNames, "backfill does not exercise this layer")
  }

  /** Traced runs only, after the checks: the same backfill on a
    * single-threaded session (`local[1]`), the baseline for the sweep's
    * speed-up. One JVM holds one SparkContext, so the 4-core session ends
    * here. */
  private def speedup(ctx: Ctx): Unit = {
    ctx.probe.foreach(_.close())
    ctx.spark.stop()
    val spark1 = graft.GraftSession.create("local[1]")
    val t0 = System.nanoTime()
    WindowSql.runBatchAuto(spark1, Sql, Map("events" -> spark1.read.parquet(inDir)))
      .write.mode("overwrite").parquet(ctx.dir("bf_1core"))
    val secs1 = (System.nanoTime() - t0) / 1e9
    spark1.stop()
    ctx.rec.detail("backfill_1core_s") = secs1
    ctx.rec.l("streaming.sweep_speedup_4v1", secs1 / (ctx.rec.detail("backfill_run_p50_ms")
      .asInstanceOf[Double] / 1000), "ratio")
  }

  def check(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val keys = Sample.keys(ctx.seed, (0 until Keys).map("k" + _), SampleKeys)
    val inList = keys.map(k => s"'$k'").mkString(",")
    input.where(s"key IN ($inList)").createOrReplaceTempView("events")
    // Catalyst's own WindowExec over the sampled keys (PARTITION BY key, so
    // a key subset recomputes exactly those keys' rows)
    val want = spark.sql(Sql).collect().toSeq
    val got = spark.read.parquet(outDir).where(s"key IN ($inList)").collect().toSeq
    val (bad, detail) = Sample.compare(want, got, Seq("key", "ts_ms", "v", "cate"))
    val total = spark.read.parquet(outDir).count()
    ctx.rec.attempted += want.size
    ctx.rec.failed += bad
    ctx.rec.detail("check.backfill_rows") = want.size
    ctx.rec.check("backfill_matches_catalyst", bad == 0 && want.nonEmpty, detail)
    ctx.rec.check("backfill_row_count", total == Rows, s"training set has $total rows, want $Rows")
    if (ctx.traced) speedup(ctx)
  }
}

object Backfill {
  /** Traffic: 80k events over 2 days, 4000 keys (squared-uniform skew),
    * 8 categories; frames 5 min to 6 h. */
  val Rows = 80000L
  val Keys = 4000
  val Categories = 8
  val BaseMs = 1704067200000L
  val SpanMs = 2L * 86400000L
  val MinRuns = 5
  /** Latency objective of one complete backfill of `Rows` rows (about
    * 2.5 × its median on 4 cores). */
  val SloMs = 5000.0
  val SampleKeys = 16

  val Sql: String =
    """SELECT key, ts_ms, v, cate,
      |  sum(v) OVER w5m AS sum_5m,
      |  count(*) OVER w1h AS cnt_1h,
      |  top(cate, 3) OVER w1h AS top_cate_1h,
      |  avg_cate(v, cate) OVER w6h AS avg_cate_6h
      |FROM events
      |WINDOW w5m AS (PARTITION BY key ORDER BY ts_ms RANGE BETWEEN 300000 PRECEDING AND CURRENT ROW),
      |       w1h AS (PARTITION BY key ORDER BY ts_ms RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW),
      |       w6h AS (PARTITION BY key ORDER BY ts_ms RANGE BETWEEN 21600000 PRECEDING AND CURRENT ROW)
      |""".stripMargin
}
