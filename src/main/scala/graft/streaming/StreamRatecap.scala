package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Telemetry.rateCap]] — the
  * ingestion throttle run as an ONLINE stateful operator: per
  * (user, day) the state is the bounded keeper set (at most k
  * (ts, event_id) pairs — the same O(k) bound the batch TopKPairs
  * aggregate enforces in its buffers) plus one running total. The
  * ranked keeper rows with their final n_total emit once, at a
  * sentinel barrier, because "how much did the cap discard" is only
  * known when the day's stream has drained — accumulate, then read
  * the final state, the two phases of [[StreamAnomaly]].
  *
  * The keeper fold is order-independent (a sorted bounded set, ties
  * on equal µs break by event_id — the batch oracle's
  * ORDER BY ts, event_id), so it does not rely on arrival order;
  * cross-batch the set must survive the staged cut: a day straddling
  * the median-time split fills part of its keeper set in batch 1 and
  * must reject/displace batch-2 arrivals against it. Shares
  * `events_ratecap`'s oracle.
  */
object StreamRatecap {

  // user_id/day are Option: the batch groupBy keeps NULL-user and
  // NULL-day groups
  case class Ev(user_id: Option[Long], dayUs: Option[Long], tsUs: Option[Long],
      event_id: Long, sentinel: Boolean)
  case class CapState(kept: List[(Long, Long)], total: Long)
  case class CapOut(user_id: Option[Long], dayUs: Option[Long], rnk: Long,
      event_id: Long, n_total: Long)

  /** The stateful core: bounded keeper set + total, flushed at the
    * sentinel. NULL-ts events count toward the total but never enter
    * the keeper set — exactly the batch TopKPairs' null-skipping
    * update (its value, −unix_micros, is null there). */
  def cap(ev: Dataset[Ev], k: Int): Dataset[CapOut] =
    Staged.atBarrier(ev)(e => (e.user_id, e.dayUs), _.sentinel)(CapState(Nil, 0L)) { (s, e) =>
      CapState(e.tsUs.fold(s.kept)(t => ((t, e.event_id) :: s.kept).sorted.take(k)),
        s.total + 1L)
    } { case ((uid, day), s) =>
      s.kept.zipWithIndex.map { case ((_, id), i) => CapOut(uid, day, (i + 1).toLong, id, s.total) }
    }

  def streamedRatecap(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .select($"user_id", unix_micros(date_trunc("day", $"ts")).as("dayUs"),
        unix_micros($"ts").as("tsUs"), $"event_id")
    val log = Staged.run(spark, Staged.withBarrier[Ev](Staged.timeCut(ev, $"tsUs"),
        ev.select($"user_id", $"dayUs").distinct())) { stream =>
      cap(stream.as[Ev], k).toDF()
    }
    // every (user, day) emits its keepers exactly once: rank 1 must
    // appear once per group or state was replayed/lost
    val bad = log.filter($"rnk" === 1L)
      .groupBy($"user_id", $"dayUs").count().filter($"count" =!= 1L).count()
    if (bad > 0)
      throw new IllegalStateException(
        s"streamed ratecap: $bad (user, day) groups emitted rank-1 != once " +
          "(cross-batch keeper state lost or replayed)")
    log.select($"user_id", timestamp_micros($"dayUs").as("day"),
      $"rnk", $"event_id", $"n_total")
  }
}
