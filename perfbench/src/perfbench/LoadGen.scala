package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

/** Open-loop event schedule: a piecewise-constant rate over wall-clock
  * time. Event `i` is due at a fixed instant that depends only on the
  * segments, never on how fast the system under test consumes. */
final class Schedule(startMs: Long, rate: Double) {
  private final case class Seg(startMs: Double, startIdx: Long, rate: Double)
  private val segs = mutable.ArrayBuffer(Seg(startMs, 0L, rate))

  /** From `atMs` on, events are due at `rate` per second. */
  def setRate(rate: Double, atMs: Long): Unit = synchronized {
    val idx = countDueBy(atMs)
    segs += Seg(math.max(atMs.toDouble, dueMs(idx)), idx, rate)
  }
  private def seg(i: Long): Seg = segs.findLast(_.startIdx <= i).get
  private def segAt(t: Double): Seg = segs.findLast(_.startMs <= t).getOrElse(segs.head)
  def dueMs(i: Long): Double = synchronized {
    val s = seg(i); s.startMs + (i - s.startIdx) * 1000.0 / s.rate
  }
  /** Number of events due at or before `t`. */
  def countDueBy(t: Long): Long = synchronized {
    val s = segAt(t.toDouble)
    if (t < s.startMs) s.startIdx
    else s.startIdx + math.floor((t - s.startMs) * s.rate / 1000.0).toLong + 1
  }
}

/** The event generator thread: every `tickMs` it hands the events that
  * have come due to `emit(from, until)`. It never waits for the system
  * under test beyond the `emit` call itself; how late it ran (send time
  * minus due time of the oldest event in each hand-off) is recorded. */
final class Feeder(val schedule: Schedule, tickMs: Int, name: String)
                  (emit: (Long, Long) => Unit) {
  @volatile private var running = true
  @volatile private var err: Throwable = null
  private var next = 0L
  val lateMs = mutable.ArrayBuffer.empty[(Long, Double)] // (sendMs, late)

  private val thread = new Thread(() => {
    try while (running) {
      val t0 = System.currentTimeMillis()
      val until = schedule.countDueBy(t0)
      if (until > next) {
        val late = t0 - schedule.dueMs(next)
        emit(next, until)
        lateMs.synchronized(lateMs += ((t0, late)))
        next = until
      }
      val left = tickMs - (System.currentTimeMillis() - t0)
      if (left > 0) Thread.sleep(left)
    } catch { case _: InterruptedException => () ; case e: Throwable => err = e }
  }, name)
  thread.setDaemon(true)

  def start(): this.type = { thread.start(); this }
  /** Events handed off so far. */
  def sent: Long = next
  def stop(): Unit = {
    running = false
    thread.join(10000)
    if (err != null) throw new IllegalStateException(s"$name failed", err)
  }
  def lateIn(t0: Long, t1: Long): Seq[Double] =
    lateMs.synchronized(lateMs.collect { case (t, l) if t >= t0 && t < t1 => l }.toSeq)
}

/** A minimal HTTP/1.1 keep-alive client over one socket: one connection
  * per load thread, and no hidden client threads, so the generator's
  * thread and connection counts are exactly what it reports. */
final class HttpConn(host: String, port: Int) {
  private val sock = new java.net.Socket(host, port)
  sock.setTcpNoDelay(true)
  sock.setSoTimeout(10000)
  private val out = new BufferedOutputStream(sock.getOutputStream)
  private val in = new BufferedInputStream(sock.getInputStream)

  private def line(): String = {
    val b = new java.io.ByteArrayOutputStream()
    var c = in.read()
    while (c != -1 && c != '\n') { if (c != '\r') b.write(c); c = in.read() }
    if (c == -1 && b.size() == 0) throw new java.io.EOFException("connection closed")
    b.toString(StandardCharsets.ISO_8859_1)
  }

  /** POSTs `body` to `path`; returns (status, response body). */
  def post(path: String, body: String): (Int, String) = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    out.write((s"POST $path HTTP/1.1\r\nHost: $host\r\nContent-Type: application/json\r\n" +
      s"Content-Length: ${bytes.length}\r\n\r\n").getBytes(StandardCharsets.ISO_8859_1))
    out.write(bytes)
    out.flush()
    val status = line().split(' ')(1).toInt
    var len = -1
    var h = line()
    while (h.nonEmpty) {
      val i = h.indexOf(':')
      if (i > 0 && h.substring(0, i).trim.equalsIgnoreCase("content-length"))
        len = h.substring(i + 1).trim.toInt
      h = line()
    }
    if (len < 0) throw new java.io.IOException("response without content-length")
    val buf = in.readNBytes(len)
    (status, new String(buf, StandardCharsets.UTF_8))
  }
  def close(): Unit = try sock.close() catch { case _: Exception => () }
}

/** An in-memory event stream that several queries can read independently:
  * Spark's MemoryStream drops batches once one reader commits them, so a
  * second query over the same source fails on out-of-order commits. This
  * one keeps every batch (the benchmark's streams are short). */
final class SharedMemoryStream[A](spark: org.apache.spark.sql.SparkSession, parts: Int)
                                 (implicit enc: org.apache.spark.sql.Encoder[A])
    extends org.apache.spark.sql.execution.streaming.runtime.MemoryStream[A](
      SharedMemoryStream.ids.getAndIncrement(), spark, Some(parts)) {
  override def commit(end: org.apache.spark.sql.connector.read.streaming.Offset): Unit = ()
}

object SharedMemoryStream {
  /** Stream ids, clear of the ones Spark's own MemoryStream counter hands out. */
  private val ids = new java.util.concurrent.atomic.AtomicInteger(1 << 20)
}
