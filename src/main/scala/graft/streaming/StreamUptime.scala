package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Telemetry.uptime]] — the fleet
  * duty-cycle audit fed LIVE: per device the state is the occupied
  * 5-minute slot set (bounded by the TIME AXIS — slots, never events)
  * plus the running event count; devices flush at the audit barrier
  * because the span denominator (last − first + 1) is only defined at
  * the snapshot. The flushed census is already device-dimension rows;
  * the fraction is the batch operator's own one-division assembly
  * ([[graft.operators.Telemetry.uptimeAssembly]] shape, emitted here
  * directly since the census IS the rollup). Shares events_uptime's
  * oracle.
  *
  * Gated property: a device's slot occupied on both sides of the cut
  * must count once in n_slots_active while n_events keeps both
  * arrivals.
  */
object StreamUptime {

  case class Ev(user_id: Option[Long], slot: Long, sentinel: Boolean)
  case class St(slots: Set[Long], n: Long)
  case class Out(user_id: Option[Long], n_events: Long,
    n_slots_active: Long, lo: Long, hi: Long)

  /** The stateful core: slot-set membership + event count per device;
    * sentinel flushes the device row. */
  def census(ev: Dataset[Ev]): Dataset[Out] =
    Staged.atBarrier(ev)(_.user_id, _.sentinel)(St(Set.empty, 0L)) { (s, e) =>
      St(s.slots + e.slot, s.n + 1L)
    } { (uid, s) =>
      if (s.n > 0L) Some(Out(uid, s.n, s.slots.size.toLong, s.slots.min, s.slots.max))
      else None
    }

  def streamedUptime(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"user_id",
        expr("(unix_micros(ts) - pmod(unix_micros(ts), 300000000)) DIV 300000000").as("slot"),
        unix_micros($"ts").as("tsUs"))
    val flushed = Staged.run(spark, Staged.withBarrier[Ev](Staged.timeCut(ev, $"tsUs"),
        ev.select($"user_id").distinct())) { stream =>
      census(stream.as[Ev]).toDF()
    }
    flushed.select($"user_id", $"n_events", $"n_slots_active",
      ($"hi" - $"lo" + 1L).as("n_slots_span"),
      ($"n_slots_active".cast("double") /
        ($"hi" - $"lo" + 1L).cast("double")).as("uptime_frac"))
  }
}
