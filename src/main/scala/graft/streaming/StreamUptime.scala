package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

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
  case class St(slots: Seq[Long], n: Long)
  case class Out(user_id: Option[Long], n_events: Long,
    n_slots_active: Long, lo: Long, hi: Long)

  /** The stateful core: slot-set membership + event count per device;
    * sentinel flushes the device row. */
  def census(ev: Dataset[Ev]): Dataset[Out] = {
    val spark = ev.sparkSession
    import spark.implicits._
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[St, Out](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, it, state: GroupState[St]) =>
          var slots = state.getOption.map(_.slots.toSet).getOrElse(Set.empty[Long])
          var n = state.getOption.map(_.n).getOrElse(0L)
          var flush = false
          it.foreach { e =>
            if (e.sentinel) flush = true
            else { slots += e.slot; n += 1L }
          }
          state.update(St(slots.toSeq, n))
          if (flush && n > 0L)
            Iterator.single(Out(uid, n, slots.size.toLong, slots.min, slots.max))
          else Iterator.empty
      }
  }

  def streamedUptime(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"user_id",
        expr("(unix_micros(ts) - pmod(unix_micros(ts), 300000000)) DIV 300000000").as("slot"),
        unix_micros($"ts").as("tsUs"))
    val bounds = ev.agg(min($"tsUs"), max($"tsUs")).head()
    if (bounds.isNullAt(0)) return spark.emptyDataFrame
    val cut = (bounds.getLong(0) + bounds.getLong(1)) / 2
    val sentinels = ev.select($"user_id").distinct()
      .select($"user_id", lit(0L).as("slot"), lit(true).as("sentinel"))
    val flushed = StreamDedup.runStagedStream(spark, Seq(
        ev.filter($"tsUs" <= cut).select($"user_id", $"slot", lit(false).as("sentinel")),
        ev.filter($"tsUs" > cut).select($"user_id", $"slot", lit(false).as("sentinel"))
          .unionByName(sentinels))) { stream =>
      census(stream.as[Ev]).toDF()
    }.getOrElse(return spark.emptyDataFrame)
    flushed.select($"user_id", $"n_events", $"n_slots_active",
      ($"hi" - $"lo" + 1L).as("n_slots_span"),
      ($"n_slots_active".cast("double") /
        ($"hi" - $"lo" + 1L).cast("double")).as("uptime_frac"))
  }
}
