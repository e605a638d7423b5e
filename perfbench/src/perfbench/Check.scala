package perfbench

import org.apache.spark.sql.Row

/** Correctness helpers: a seeded key sample and row-set comparison. */
object Sample {
  /** `n` keys drawn without replacement by seeded rank; always includes the
    * hottest key so a skewed key is checked on every seed. */
  def keys(seed: Long, all: Seq[String], n: Int): Set[String] = {
    val picked = all.sortBy(k => Rng.hash(seed, 99, k.hashCode.toLong)).take(n - 1)
    (picked ++ all.headOption).toSet
  }

  /** Values equal up to floating-point summation order. */
  def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: java.lang.Number, y: java.lang.Number) =>
      val (p, q) = (x.doubleValue, y.doubleValue)
      p == q || math.abs(p - q) <= 1e-9 * math.max(1.0, math.max(math.abs(p), math.abs(q)))
    case (x: scala.collection.Map[_, _], y: scala.collection.Map[_, _]) =>
      x.size == y.size && x.forall { case (k, v) => y.exists { case (k2, v2) => same(k, k2) && same(v, v2) } }
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.length == y.length && x.zip(y).forall { case (p, q) => same(p, q) }
    case (x: Row, y: Row) => same(x.toSeq, y.toSeq)
    case (x, y) => x != null && y != null && (x.toString == y.toString || samePrinted(x.toString, y.toString))
  }

  /** Formatted results (the `*_cate` family prints `cate:value` lists with
    * fixed decimals): equal when every number agrees to its printed
    * precision, allowing one unit of rounding in the last printed digit. */
  private def samePrinted(a: String, b: String): Boolean = {
    val split = "(?<=[,:])|(?=[,:])"
    val (ta, tb) = (a.split(split), b.split(split))
    ta.length == tb.length && ta.zip(tb).forall { case (p, q) =>
      p == q || ((p.toDoubleOption, q.toDoubleOption) match {
        case (Some(x), Some(y)) =>
          val places = Seq(p, q).map(t => if (t.contains('.')) t.length - t.indexOf('.') - 1 else 0).max
          places > 0 && math.abs(x - y) <= 1.01 * math.pow(10, -places)
        case _ => false
      })
    }
  }

  /** Compares two row sets by the `id` columns (multisets: peers that share
    * an id must carry identical values). Returns (mismatched rows, detail). */
  def compare(want: Seq[Row], got: Seq[Row], id: Seq[String]): (Long, String) = {
    if (want.isEmpty) return (0L, "no reference rows")
    val cols = want.head.schema.fieldNames.toSeq
    def key(r: Row) = id.map(c => String.valueOf(r.getAs[Any](c))).mkString("|")
    def vals(r: Row) = cols.map(c => r.getAs[Any](c))
    val g = got.groupBy(key)
    var bad = 0L
    var first = ""
    want.groupBy(key).foreach { case (k, ws) =>
      val gs = g.getOrElse(k, Nil)
      val unmatched = ws.count(w => !gs.exists(x => same(vals(w), vals(x))))
      val extra = math.max(0, gs.size - ws.size)
      if (unmatched + extra > 0 && first.isEmpty)
        first = s"id $k: want ${ws.map(vals).mkString(";")} got ${gs.map(vals).mkString(";")}"
      bad += unmatched + extra
    }
    val stray = g.keySet.diff(want.map(key).toSet)
    bad += stray.toSeq.map(g(_).size).sum
    if (stray.nonEmpty && first.isEmpty) first = s"unexpected ids ${stray.take(3).mkString(",")}"
    (bad, if (bad == 0) "ok" else s"$bad mismatched rows; first: $first")
  }
}
