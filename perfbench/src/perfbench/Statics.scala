package perfbench

/** The only file that reads graft's process-wide static counters. They
  * are looked up by reflection and are optional: when a counter moves off
  * JVM statics (or is renamed) the benchmark still builds and records the
  * metric as missing, not failed. Everything else the benchmark reports
  * comes from Spark's own progress events and task metrics. */
object Statics {
  private def module(cls: String): Option[AnyRef] =
    try Some(Class.forName(cls).getField("MODULE$").get(null))
    catch { case _: Throwable => None }

  private def call(o: AnyRef, m: String): Option[AnyRef] =
    try Some(o.getClass.getMethod(m).invoke(o))
    catch { case _: Throwable => None }

  private def asLong(v: AnyRef): Option[Long] = v match {
    case a: java.util.concurrent.atomic.AtomicLong => Some(a.get)
    case a: java.util.concurrent.atomic.LongAdder => Some(a.sum)
    case n: java.lang.Number => Some(n.longValue)
    case _ => None
  }

  /** `graft.serving.ShardedFeatureStore.exhaustedReads`. */
  def exhaustedReads: Option[Long] =
    module("graft.serving.ShardedFeatureStore$").flatMap(call(_, "exhaustedReads")).flatMap(asLong)

  /** `alarmedShards` of a store instance, when it has one. */
  def alarmedShards(store: AnyRef): Option[Int] =
    call(store, "alarmedShards").collect { case s: scala.collection.Seq[_] => s.size }
}
