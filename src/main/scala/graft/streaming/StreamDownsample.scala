package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Telemetry.downsample1Hz]] —
  * the reference's "don't send at 5 Hz, send at 1 Hz" (notes.org) run
  * as an ONLINE rate gate: the first event of each (user, second)
  * forwards the moment it arrives, later events of the same second
  * drop at the gate. Per-user state is ONE µs bucket — the last
  * second already emitted — because event time per user only moves
  * forward across the staged time-cut batches, so "first of a new
  * second" is exactly "bucket > state". O(1) state however fast the
  * device chats, and emission is append-safe (each kept event is
  * final at arrival).
  *
  * Intra-batch arrival order pins to (event time, event_id) — the
  * batch window's sort key — so two events inside one second elect
  * the same keeper as the batch `row_number() = 1`.
  *
  * Gated property: a second that STRADDLES the cut (first event in
  * batch 1, more in batch 2) must suppress the batch-2 arrivals from
  * cross-batch state — that straddle is what the shared
  * `downsample_1hz` oracle check makes non-vacuous. NULL timestamps
  * sort first (the batch window's null-first asc), encoded as a
  * MinValue bucket so they dedup to one emission per user like the
  * batch null-second partition.
  */
object StreamDownsample {

  // user_id/ts/value are Option: the batch window keeps NULL-user
  // and NULL-second partitions; bare primitives would drop them
  case class Ev(user_id: Option[Long], tsUs: Option[Long], event_id: Long,
      value: Option[Double])
  case class Kept(user_id: Option[Long], event_id: Long, secUs: Option[Long],
      value: Option[Double])

  private def bucket(tsUs: Option[Long]): Long =
    tsUs.map(t => t - java.lang.Math.floorMod(t, 1000000L))
      .getOrElse(Long.MinValue)

  /** The stateful core: state = last second emitted for this user
    * (None before the first emission: the Long.MinValue bucket of a
    * NULL ts is a real key). */
  def gate(ev: Dataset[Ev]): Dataset[Kept] =
    Staged.onArrival(ev)(_.user_id, e => (e.tsUs.getOrElse(Long.MinValue), e.event_id))(
        Option.empty[Long]) { (last, e) =>
      val b = bucket(e.tsUs)
      if (last.exists(_ >= b)) (last, None)
      else (Some(b), Some(Kept(e.user_id, e.event_id, e.tsUs.map(_ => b), e.value)))
    }

  def streamedDownsample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .select($"user_id", unix_micros($"ts").as("tsUs"), $"event_id", $"value")
    val log = Staged.run(spark, Staged.timeCut(ev, $"tsUs")) { stream =>
      gate(stream.as[Ev]).toDF()
    }
    log.select($"event_id", $"user_id",
      timestamp_micros($"secUs").as("sec"), $"value")
  }
}
