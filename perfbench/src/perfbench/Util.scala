package perfbench

import scala.collection.mutable

/** Seeded input generation: every workload derives its inputs from
  * `(seed, stream, index)` alone, so a seed names the same inputs on every
  * run and every thread can draw its own share without coordination. */
object Rng {
  /** SplitMix64 finalizer: a well-mixed 64-bit hash of one long. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def hash(seed: Long, stream: Long, i: Long): Long =
    mix(mix(mix(seed) ^ stream) ^ i)
  /** Uniform in [0, 1). */
  def unit(seed: Long, stream: Long, i: Long): Double =
    (hash(seed, stream, i) >>> 11) * (1.0 / (1L << 53))
}

/** Zipf(s) over ranks 0..n-1 by inverse CDF; rank 0 is the hottest key. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  def rank(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** Timing summaries as the benchmark reports them: the median, and the
  * highest percentile that still has at least ten samples beyond it. */
object Stats {
  def quantile(sorted: IndexedSeq[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = q * (sorted.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(sorted.length - 1, lo + 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }
  def median(xs: Iterable[Double]): Double = quantile(xs.toIndexedSeq.sorted, 0.5)

  /** Largest of p99.9 / p99 / p95 / p90 / p75 with >= 10 samples beyond it;
    * (name, value). With fewer than 40 samples no such percentile exists
    * and the maximum stands in, named as such. */
  def tail(xs: Iterable[Double]): (String, Double) = {
    val s = xs.toIndexedSeq.sorted
    Seq(0.999 -> "p99.9", 0.99 -> "p99", 0.95 -> "p95", 0.9 -> "p90", 0.75 -> "p75")
      .find { case (q, _) => s.length * (1 - q) >= 10 }
      .map { case (q, name) => name -> quantile(s, q) }
      .getOrElse("max" -> (if (s.isEmpty) Double.NaN else s.last))
  }
}

/** Minimal JSON writer for the record (numbers, strings, maps, seqs). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < 0x20 => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case o: Option[_] => o.map(apply).getOrElse("null")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Process-level measurements. */
object Proc {
  /** High-water resident set size in MB (VmHWM), or NaN off Linux. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)
      finally src.close()
    } catch { case _: Exception => Double.NaN }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** Peak heap use in MB across all heap pools since JVM start. */
  def heapPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }
}

/** A metric sink for one run: end-to-end values, per-layer values and the
  * names of per-layer metrics a workload does not exercise (with why). */
final class Record {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val missing = mutable.LinkedHashMap.empty[String, String]
  /** Mode-specific figures (e.g. `serve_max_qps`) and their sample counts. */
  val detail = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  val invalid = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def l(name: String, v: Double, unit: String): Unit = layer(name) = (v, unit)
  def miss(names: Seq[String], why: String): Unit = names.foreach(missing(_) = why)
  def check(name: String, ok: Boolean, what: => String): Unit = {
    checks(name) = ok
    if (!ok) detail(s"check.$name") = what
  }
  /** A latency distribution as (median, tail) with its sample count. */
  def dist(prefix: String, xs: Iterable[Double]): (Double, Double) = {
    val (tn, tv) = Stats.tail(xs)
    val m = Stats.median(xs)
    detail(s"${prefix}_p50_ms") = m
    detail(s"${prefix}_tail_ms") = tv
    detail(s"${prefix}_tail_pct") = tn
    detail(s"${prefix}_samples") = xs.size
    (m, tv)
  }
}
