package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** Observable stop-band (hot-bucket) pruning — the no-silent-caps
  * rule's shared audit, used by every capped candidate generator
  * (Dedup's band census, Similarity's signature buckets).
  *
  * Two channels per call, reported by [[graft.GraftSession]]'s
  * query listener:
  *  - a CollectMetrics node on the census (exact per-execution
  *    numbers, zero extra jobs) — primary, but discarded by AQE's
  *    empty-relation propagation when the WHOLE query collapses
  *    (every bucket hot ⇒ empty result), which is precisely the
  *    loudest case;
  *  - a [[graft.plans.StopBandAudit]] accumulator pair riding the
  *    census tasks — survives any downstream collapse because the
  *    census stage must execute before AQE can see the pruned side
  *    is empty. The listener reports it only when the metric row
  *    did NOT survive, so drops are never double-logged.
  */
object StopBand {
  private val seq = new java.util.concurrent.atomic.AtomicLong()

  /** Soft bound on registered audits: past this, fully-reported
    * entries evict at each listener sweep (a long-lived session would
    * otherwise accumulate one Entry + two accumulators per audited
    * plan build, forever). An evicted entry can only lose drops if the
    * SAME collapsed plan re-executes after its report — the metric
    * channel still covers the normal case. */
  private val MaxEntries = 128

  /** (buckets-acc, members-acc, per-channel already-reported
    * watermarks — members mirrors buckets so re-executions log deltas
    * on BOTH counters, never a cumulative members total). */
  private final case class Entry(buckets: LongAccumulator,
      members: LongAccumulator,
      reported: java.util.concurrent.atomic.AtomicLong,
      reportedMembers: java.util.concurrent.atomic.AtomicLong)
  private val entries =
    scala.collection.concurrent.TrieMap.empty[String, Entry]

  /** Wrap a bucket census (must expose a Long `bc` count column) with
    * the two audit channels. The returned frame's `bc` is the
    * audit-wrapped count: keep filtering on it (`bc <= cap`) so the
    * expression survives column pruning. */
  def audited(census: DataFrame, site: String, cap: Int): DataFrame = {
    val spark = census.sparkSession
    import spark.implicits._
    // suffix keeps names unique when two capped operators land in one
    // query plan (observe rejects duplicate metric names per plan)
    val name = s"graft_stop_band_${site}_${seq.incrementAndGet()}"
    val e = Entry(
      spark.sparkContext.longAccumulator(s"${name}_buckets"),
      spark.sparkContext.longAccumulator(s"${name}_members"),
      new java.util.concurrent.atomic.AtomicLong(),
      new java.util.concurrent.atomic.AtomicLong())
    entries.put(name, e)
    census
      .withColumn("bc", org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.plans.StopBandAudit(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression($"bc"),
          cap.toLong, e.buckets, e.members)))
      .observe(name,
        sum(when($"bc" > cap, 1L).otherwise(0L)).as("dropped_buckets"),
        sum(when($"bc" > cap, $"bc").otherwise(0L)).as("dropped_docs"))
  }

  /** Called by the listener with the metric names that DID survive in
    * a finished query's plan: syncs their backstops (already reported
    * exactly via CollectMetrics), then returns the backstop-only
    * drops — entries whose accumulators advanced past what was last
    * reported — and marks them reported. Fully-reported entries evict
    * once the registry outgrows [[MaxEntries]]. */
  private[graft] def backstopDrops(seen: Set[String]): Seq[(String, Long, Long)] = {
    seen.foreach(n => entries.get(n).foreach { e =>
      e.reported.set(e.buckets.value)
      e.reportedMembers.set(e.members.value)
    })
    val drops = entries.iterator.flatMap { case (name, e) =>
      val b = e.buckets.value.longValue()
      val m = e.members.value.longValue()
      val prevB = e.reported.getAndSet(b)
      val prevM = e.reportedMembers.getAndSet(m)
      if (b > prevB) Some((name, b - prevB, m - prevM))
      else None
    }.toSeq
    if (entries.size > MaxEntries)
      entries.foreach { case (name, e) =>
        if (e.reported.get() >= e.buckets.value.longValue()) entries.remove(name)
      }
    drops
  }

  /** Test hook: current (buckets, members) for every audit whose name
    * contains `site`. */
  private[graft] def currentDrops(site: String): Seq[(Long, Long)] =
    entries.iterator.collect {
      case (name, e) if name.contains(site) =>
        (e.buckets.value.longValue(), e.members.value.longValue())
    }.toSeq

  /** Test hook: forget every registered audit. */
  private[graft] def clear(): Unit = entries.clear()
}
