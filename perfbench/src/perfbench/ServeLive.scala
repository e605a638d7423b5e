package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.api.Pipeline

/** Request mode, built from a Pipeline spec with
  * `request_source_sink.sharded`: a fixed-rate writer stream feeds the
  * window engine (into the sharded upsert store) and the live row feeder
  * (into the sharded shard logs), while an open-loop HTTP client sends
  * lookups with a seeded Zipf key mix, at a reference rate and then a
  * fixed qps ladder. Reads and writes share the shard logs, so a gain for
  * lookups that slows ingestion shows, and so does the reverse.
  *
  * A `probe` key is written at a fixed high cadence: a probe lookup's age
  * (request time minus the served `ts_ms`) is the write-path delay of the
  * live path, and the upsert store's probe row age is the window engine's
  * event-to-visible freshness (its triggers, state commit and sink). */
final class ServeLive extends Workload {
  import ServeLive._

  private type Ev = (String, Long, Double, String)
  private var handle: Pipeline.Handle = _
  private var feeder: Feeder = _
  private val events = mutable.ArrayBuffer.empty[Ev]
  private val mapper = new ObjectMapper()

  private def event(seed: Long, i: Long, dueMs: Double): Ev = {
    // the first `Keys` events visit every key once, so no lookup misses
    val key = if (i < Keys) "k" + i else if (i % ProbeEvery == 0) ProbeKey
      else "k" + (Rng.unit(seed, 11, i) * Keys).toInt
    val v = math.floor(Rng.unit(seed, 12, i) * 10000) / 100
    val cate = "c" + (Rng.unit(seed, 13, i) * Categories).toInt
    (key, dueMs.toLong, v, cate)
  }

  private def stream(spark: SparkSession, nproc: Int): MemoryStream[Ev] = {
    import spark.implicits._
    new SharedMemoryStream[Ev](spark, nproc)
  }

  private def lookup(c: HttpConn, key: String): (Int, String) =
    c.post("/request", s"""{"key": "$key"}""")

  def setup(ctx: Ctx): Double = {
    events.synchronized(events.clear())
    val m = stream(ctx.spark, ctx.nproc)
    val (h, compileMs) = Traces.compile(ctx) {
      Pipeline.runJson(ctx.spark, Spec,
        tables = Map("events" -> m.toDF().toDF("key", "ts_ms", "v", "cate")))
    }
    // the writer's schedule starts `HistoryMs` in the past: its first
    // hand-off is the history every key is served from
    val sch = new Schedule(System.currentTimeMillis() - HistoryMs, WriteRate)
    val f = new Feeder(sch, TickMs, "sl-writer")({ (from, until) =>
      val batch = (from until until).map(i => event(ctx.seed, i, sch.dueMs(i)))
      events.synchronized(events ++= batch)
      m.addData(batch)
      ()
    }).start()
    // warm-up: until the window engine has committed a trigger that read
    // events and a probe lookup is answered live over HTTP
    val c = new HttpConn("127.0.0.1", h.port.get)
    try {
      val deadline = System.currentTimeMillis() + 60000
      var ok = false
      while (!ok && System.currentTimeMillis() < deadline) {
        val (code, body) = lookup(c, ProbeKey)
        ok = code == 200 && mapper.readTree(body).path("live").asBoolean(false) &&
          h.query.flatMap(q => Option(q.lastProgress)).exists(_.numInputRows > 0)
        if (!ok) Thread.sleep(20)
      }
      h.query.flatMap(_.exception).foreach(throw _)
      require(ok, "serve_live: not warm within 60 s of start")
    } finally c.close()
    handle = h; feeder = f
    compileMs
  }



  /** One sent lookup. */
  private final case class Req(j: Long, key: String, dueMs: Double, sendMs: Double,
                               endMs: Double, status: Int, live: Boolean, tsMs: Long,
                               direct: Boolean, genLate: Double = 0.0)

  def measure(ctx: Ctx): Unit = {
    val rec = ctx.rec
    val t0 = System.currentTimeMillis() + 50
    val refMs = (ctx.seconds * 1000 * RefShare).toLong
    val stepMs = (ctx.seconds * 1000 - refMs) / Ladder.length
    val rungs = (RefQps, t0, t0 + refMs) +: Ladder.zipWithIndex.map { case (q, k) =>
      val a = t0 + refMs + k * stepMs; (q, a, a + stepMs)
    }
    val end = rungs.last._3
    val sched = new Schedule(t0, RefQps)
    rungs.tail.foreach { case (q, a, _) => sched.setRate(q, a) }
    val senders = ctx.nproc - 1 // the writer is the remaining load thread
    val port = handle.port.get
    val buf = handle.buffer.get
    val exhausted0 = Statics.exhaustedReads
    val results = Array.fill(senders)(mutable.ArrayBuffer.empty[Req])
    val errors = new java.util.concurrent.atomic.AtomicLong()
    val base = System.currentTimeMillis() - System.nanoTime() / 1e6
    def now() = base + System.nanoTime() / 1e6
    val threads = (0 until senders).map { t =>
      val th = new Thread(() => {
        val c = new HttpConn("127.0.0.1", port)
        try {
          var j = t.toLong
          var due = sched.dueMs(j)
          var prevEnd = 0.0
          while (due < end) {
            val wait = due - now()
            if (wait > 1) Thread.sleep(wait.toLong)
            val key = if (j % ProbeEvery == 0) ProbeKey
              else "k" + zipf.rank(Rng.unit(ctx.seed, 21, j))
            // traced runs evaluate every 4th non-probe lookup in-process
            // through LiveBuffer.eval on the same schedule
            val direct = ctx.traced && j % 4 == 1
            val send = now()
            val r =
              if (direct) {
                val out = buf.eval(key)
                Req(j, key, due, send, now(), if (out.isDefined) 200 else 404,
                  out.isDefined, out.map(_._1).getOrElse(-1L), direct = true)
              } else {
                val (code, body) = try lookup(c, key) catch {
                  case _: java.io.IOException => (-1, "")
                }
                val fin = now()
                val node = if (code == 200) mapper.readTree(body) else null
                Req(j, key, due, send, fin, code,
                  node != null && node.path("live").asBoolean(false),
                  if (node != null) node.path("ts_ms").asLong(-1) else -1L, direct = false)
              }
            // the generator's own lateness: how far the send slipped past
            // both its due time and the previous reply on this connection
            results(t) += r.copy(genLate = send - math.max(due, prevEnd))
            prevEnd = r.endMs
            ctx.tracer.foreach(tr => tr.add(if (direct) "serving.direct_eval" else "serving.lookup",
              s"req/$j", (r.sendMs * 1000).toLong, (r.endMs * 1000).toLong))
            j += senders
            due = sched.dueMs(j)
          }
        } catch { case _: Throwable => errors.incrementAndGet() }
        finally c.close()
      }, s"sl-client-$t")
      th.setDaemon(true); th.start(); th
    }
    // the monitor (not a load thread): age of the probe row in the upsert
    // store, i.e. the window engine's event-to-visible freshness
    val store = handle.store.get
    val upsertAge = mutable.ArrayBuffer.empty[Double]
    while (System.currentTimeMillis() < end) {
      store.get(ProbeKey).foreach(e => if (System.currentTimeMillis() >= t0)
        upsertAge += (System.currentTimeMillis() - e.tsMs).toDouble)
      Thread.sleep(MonitorMs)
    }
    threads.foreach(_.join(30000))
    val t1 = System.currentTimeMillis()
    val all = results.flatMap(_.toSeq).sortBy(_.j).toIndexedSeq
    val http = all.filterNot(_.direct)
    def failedReq(r: Req) = r.status != 200

    // end to end: reference-rung latency from the due time, ladder
    def latency(r: Req) = if (failedReq(r)) Double.PositiveInfinity else r.endMs - r.dueMs
    val refReqs = http.filter(r => r.dueMs < rungs.head._3)
    rec.dist("serve", refReqs.map(latency))
    // the median over one-second windows of the reference rung
    val windows = refReqs.groupBy(r => ((r.dueMs - t0) / WindowMs).toLong).values
      .filter(_.size >= 100).toSeq
    rec.detail("serve_windows") = windows.size
    rec.detail("serve_window_p50_ms") = Stats.median(windows.map(w => Stats.median(w.map(latency))))
    // latency as the share of lookups answered within the objective: the
    // percentiles of a few seconds of lookups move with every stall of the
    // box, the share within 10 ms stays put
    rec.e2e("slo_share") = (refReqs.count(latency(_) <= SloMs).toDouble / refReqs.size, "fraction")
    Seq(5, 25, 50, 100).foreach(ms => rec.detail(s"serve_within_${ms}ms_share") =
      refReqs.count(latency(_) <= ms).toDouble / refReqs.size)
    val passes = rungs.map { case (q, a, b) =>
      val rs = http.filter(r => r.dueMs >= a && r.dueMs < b)
      val t = Stats.tail(rs.map(r => if (failedReq(r)) Double.PositiveInfinity else r.endMs - r.dueMs))._2
      rec.detail(s"serve_rung_${q.toInt}_tail_ms") = t
      rec.detail(s"serve_rung_${q.toInt}_requests") = rs.size
      rs.nonEmpty && t <= ServeLimitMs && !rs.exists(failedReq)
    }
    val maxQps = rungs.zip(passes).takeWhile(_._2).lastOption.map(_._1._1).getOrElse(0.0)
    rec.detail("serve_max_qps") = maxQps
    rec.e2e("rate_per_s") = (maxQps, "1/s")
    val probes = http.filter(r => r.key == ProbeKey && r.status == 200 && r.tsMs > 0)
    val stale = Stats.median(probes.map(r => r.sendMs - r.tsMs))
    rec.detail("serve_stale_p50_ms") = stale
    rec.l("serving.stale_p50_ms", stale, "ms")
    rec.detail("serve_stale_samples") = probes.size
    if (upsertAge.nonEmpty) rec.dist("stream_fresh", upsertAge)
    else rec.missing("stream_fresh_p50_ms") =
      "the window engine emitted no probe row into the upsert store during the run"
    val expected = rungs.map { case (q, a, b) => sched.countDueBy(b - 1) - sched.countDueBy(a - 1) }.sum
    val lost = math.max(0L, expected - all.size)
    rec.attempted += math.max(expected, all.size.toLong)
    rec.failed += all.count(failedReq) + lost + errors.get
    rec.detail("serve_requests") = all.size
    rec.detail("serve_requests_unsent") = lost

    // serving layer (read side)
    val ok = http.filter(_.status == 200)
    rec.l("serving.non200", http.count(failedReq).toDouble, "count")
    rec.l("serving.live_share", if (ok.isEmpty) 0.0 else ok.count(_.live).toDouble / ok.size, "ratio")
    val seenKeys = mutable.HashSet.empty[String]
    val repeats = all.count(r => !seenKeys.add(r.key))
    rec.l("serving.repeat_read_share", repeats.toDouble / math.max(1, all.size), "ratio")
    Statics.exhaustedReads match {
      case Some(n) => rec.l("serving.exhausted_reads", (n - exhausted0.getOrElse(0L)).toDouble, "count")
      case None => rec.missing("serving.exhausted_reads") = "ShardedFeatureStore.exhaustedReads not found"
    }
    Statics.alarmedShards(store) match {
      case Some(n) => rec.l("serving.alarmed_shards", n, "count")
      case None => rec.missing("serving.alarmed_shards") = "store has no alarmedShards"
    }
    // load generator validity, over the reference rung
    val late = all.filter(_.dueMs < rungs.head._3).map(_.genLate) ++ feeder.lateIn(t0, rungs.head._3)
    val lateP99 = Stats.tail(late)._2
    rec.l("loadgen.late_p99_ms", lateP99, "ms")
    rec.l("loadgen.threads", senders + 1, "count")
    rec.detail("loadgen.connections") = senders
    if (lateP99 > LateLimitMs) rec.invalid += s"loadgen.late_p99_ms $lateP99 > $LateLimitMs"
    if (senders + 1 > ctx.nproc) rec.invalid += s"load threads ${senders + 1} > nproc ${ctx.nproc}"

    ctx.probe.foreach { probe =>
      val direct = all.filter(r => r.direct && r.status == 200).map(r => r.endMs - r.sendMs)
      val rtt = ok.filterNot(_.key == ProbeKey).map(r => r.endMs - r.sendMs)
      rec.l("serving.direct_eval_ms", Stats.median(direct), "ms")
      rec.l("serving.direct_eval_p99_ms", Stats.tail(direct)._2, "ms")
      rec.l("serving.http_overhead_ms", Stats.median(rtt) - Stats.median(direct), "ms")
      probe.settle()
      val q = handle.query.get
      val fq = handle.feeder.get
      val ups = probe.progressIn(t0, t1, q.id.toString)
      val feeds = probe.progressIn(t0, t1, fq.id.toString)
      // the window engine's triggers are this workload's streaming layer
      Probe.triggerMetrics(rec, "streaming", ups, t1 - t0)
      rec.l("sources.latest_offset_ms", Stats.median(ups.map(Probe.dur(_, "latestOffset").toDouble)), "ms")
      rec.l("sources.get_batch_ms", Stats.median(ups.map(Probe.dur(_, "getBatch").toDouble)), "ms")
      rec.l("serving.upsert_batch_ms", Stats.median(ups.map(Probe.dur(_, "addBatch").toDouble)), "ms")
      rec.l("serving.feed_batch_ms", Stats.median(feeds.map(Probe.dur(_, "addBatch").toDouble)), "ms")
      rec.l("serving.write_triggers", (ups.size + feeds.size).toDouble, "count")
      Probe.stageMetrics(rec, "spark", probe.stagesIn(t0, t1), probe.jobsIn(t0, t1))
      ctx.tracer.foreach { t =>
        Traces.triggers(t, "upsert", ups)
        Traces.triggers(t, "feed", feeds)
      }
    }
    shardFiles(ctx)
    rec.miss(Traces.sweepOnly, "serve_live runs no batch sweep")
    rec.missing("streaming.backlog_ms") =
      "the shared memory stream's offsets are not mapped back to due times"
  }

  /** Shard-log size and compactions (generation bumps, via `genOf`). */
  private def shardFiles(ctx: Ctx): Unit = {
    val roots = Option(ctx.work.toFile.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft_pipeline_shard_"))
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(size).sum else f.length
    ctx.rec.l("serving.log_bytes", roots.map(size).sum.toDouble, "bytes")
    val gens = for (r <- roots; sub <- Seq("store", "live"); s <- 0 until DefaultShards)
      yield graft.serving.ShardedFeatureStore.genOf(s"${r.getPath}/$sub", s)
    ctx.rec.l("serving.compactions", gens.sum.toDouble, "count")
  }

  def check(ctx: Ctx): Unit = {
    // lookups read the live path: the row feeder must have drained
    feeder.stop()
    handle.feeder.foreach(_.processAllAvailable())
    val spark = ctx.spark
    import spark.implicits._
    val evs = events.synchronized(events.toVector)
    val keys = Sample.keys(ctx.seed, (0 until Keys).map("k" + _), SampleKeys)
    spark.createDataset(evs.filter(e => keys.contains(e._1)))
      .toDF("key", "ts_ms", "v", "cate").createOrReplaceTempView("events")
    val want = spark.sql(Sql).collect().toSeq
    val c = new HttpConn("127.0.0.1", handle.port.get)
    var bad = 0L
    var first = ""
    try keys.toSeq.sorted.foreach { k =>
      val (code, body) = lookup(c, k)
      val node = if (code == 200) mapper.readTree(body) else null
      val ts = if (node != null) node.path("ts_ms").asLong(-1) else -1L
      val rows = want.filter(r => r.getAs[String]("key") == k && r.getAs[Long]("ts_ms") == ts)
      val same = node != null && rows.nonEmpty && rows.forall { r =>
        AggCols.forall(a => Sample.same(r.getAs[Any](a), jsonValue(node.path("features").get(a))))
      }
      if (!same) {
        bad += 1
        if (first.isEmpty) first = s"key $k: served $body; catalyst ${rows.mkString(";")}"
      }
    } finally c.close()
    ctx.rec.attempted += keys.size
    ctx.rec.failed += bad
    ctx.rec.check("serve_live_matches_catalyst", bad == 0,
      s"$bad of ${keys.size} sampled keys differ; first: $first")
  }

  private def jsonValue(n: com.fasterxml.jackson.databind.JsonNode): Any =
    if (n == null || n.isNull) null
    else if (n.isNumber) java.lang.Double.valueOf(n.asDouble)
    else n.asText

  def discard(): Unit = {
    try feeder.stop() finally handle.stop()
    feeder = null; handle = null
  }
}

object ServeLive {
  /** Traffic: writes uniform over 1000 keys at a fixed 1000 events/s (the
    * first 1000 visit every key once, later one in 20 goes to the probe key), 8 categories, 5 s of history; lookups
    * Zipf(1.0) over the same keys, one in 10 to the probe key. */
  val Keys = 1000
  val Categories = 8
  val WriteRate = 1000.0
  val ProbeEvery = 20
  val HistoryMs = 5000L
  val TickMs = 50
  val ProbeKey = "probe"
  val zipf = new Zipf(Keys, 1.0)
  /** Reference lookup rate and the qps ladder above it. Three blocking
    * connections cap the offered load near 3 / round trip (850–3000 qps
    * measured on 4 cores), so the rungs sit clear of that band: 600 passes
    * unless the round trip passes 5 ms, 9600 always saturates the clients. */
  val RefQps = 400.0
  val Ladder = Seq(600.0, 9600.0)
  val WindowMs = 1000.0
  val RefShare = 0.7
  /** Latency objective of a reference-rate lookup, from its due time. */
  val SloMs = 10.0
  /** A rung passes when its tail latency stays within this, with no failures. */
  val ServeLimitMs = 500.0
  val LateLimitMs = 100.0
  val MonitorMs = 50L
  val SampleKeys = 16
  /** Shard count the spec's `sharded: {}` gets by default. */
  val DefaultShards = 8

  val Sql: String =
    """SELECT key, ts_ms, v,
      |  sum(v) OVER w30s AS sum_30s,
      |  count(*) OVER w30s AS cnt_30s,
      |  max(v) OVER w5m AS max_5m,
      |  avg_cate(v, cate) OVER w5m AS avg_cate_5m
      |FROM events
      |WINDOW w30s AS (PARTITION BY key ORDER BY ts_ms RANGE BETWEEN 30000 PRECEDING AND CURRENT ROW),
      |       w5m AS (PARTITION BY key ORDER BY ts_ms RANGE BETWEEN 300000 PRECEDING AND CURRENT ROW)
      |""".stripMargin
  val AggCols = Seq("sum_30s", "cnt_30s", "max_5m", "avg_cate_5m")

  val Spec: String =
    s"""{ "execution_mode": "Request",
       |  "sources": [ { "table_name": "events", "source": { "Memory": {} } } ],
       |  "sql": ${Json.str(Sql)},
       |  "request_source_sink": { "sharded": {} } }""".stripMargin
}
