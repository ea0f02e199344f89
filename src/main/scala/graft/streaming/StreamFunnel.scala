package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming conversion funnel — [[graft.operators.Telemetry.funnel]]
  * run INCREMENTALLY: signup/purchase events arrive as an unbounded
  * stream and each user's funnel position maintains itself in per-key
  * state instead of being re-derived by two batch scans of the whole
  * event log.
  *
  * The subtle bit is that "first qualifying purchase" is NOT a plain
  * running min: the qualifier (`purchase_ts >= min signup_ts`) moves
  * as earlier signups arrive, so a purchase rejected against today's
  * earliest-known signup may qualify retroactively once an even
  * earlier signup lands. State therefore carries three things: the
  * running min signup, the running min QUALIFYING purchase, and the
  * pending purchases still earlier than the current min signup — and
  * a signup that lowers the min promotes the pending entries it just
  * legitimized. Pending is bounded by purchases that precede the
  * user's earliest signup (with a watermark, entries older than the
  * watermark-final min signup are droppable); signup/qualifying state
  * is O(1) per user forever.
  *
  * A per-user barrier flushes the funnel row — shares
  * `events_funnel`'s oracle, so batch-2 purchases must fold into
  * batch-1 signup state (and vice-versa promotions must fire) for the
  * hash to match.
  *
  * Scale posture: the stream filters to the two funnel event types
  * BEFORE the stateful shuffle (at 100 TB that is the difference
  * between sharding the full firehose and the funnel-relevant slice),
  * state shards on user_id — the same key the batch groupBy shuffles
  * on — and emission is append-mode.
  */
object StreamFunnel {

  case class Ev(user_id: Option[Long], ts_us: Long, typ: String, sentinel: Boolean)
  case class FunnelState(minSignup: Long, qualMin: Long, pend: Seq[Long])
  case class FunnelOut(user_id: Option[Long], signup_us: Long, purchase_us: Option[Long])

  private val None_ = Long.MaxValue

  /** The stateful core: fold signups/purchases into the per-user
    * funnel election; emit exactly once, at the sentinel. */
  def funnelStream(evs: Dataset[Ev]): Dataset[FunnelOut] =
    Staged.atBarrier(evs)(_.user_id, _.sentinel)(FunnelState(None_, None_, Nil)) { (s, e) =>
      // a NULL user never equi-joins in the batch shape: its
      // purchases can't qualify against its signups
      if (e.user_id.isEmpty && e.typ != "signup") s
      else if (e.typ == "signup") {
        if (e.ts_us >= s.minSignup) s
        else {
          // a lower min signup legitimizes pending purchases at
          // or after it — promote them into the qualifying min
          val (promoted, keep) = s.pend.partition(_ >= e.ts_us)
          val q = if (promoted.isEmpty) s.qualMin
                  else math.min(s.qualMin, promoted.min)
          // entries >= the new qualMin can never lower it again
          // (any future promotion takes min against q), so drop
          // them — pend stays bounded by distinct ts below q
          FunnelState(e.ts_us, q, keep.filter(_ < q))
        }
      } else if (e.typ == "purchase") {
        if (e.ts_us >= s.minSignup) s.copy(qualMin = math.min(s.qualMin, e.ts_us))
        else if (e.ts_us < s.qualMin && !s.pend.contains(e.ts_us))
          s.copy(pend = s.pend :+ e.ts_us)
        else s
      } else s
    } { (uid, s) =>
      if (s.minSignup == None_) None
      else Some(FunnelOut(uid, s.minSignup,
        if (s.qualMin != None_) Some(s.qualMin) else None))
    }

  /** The batch-gated run: shares events_funnel's oracle. */
  def streamedFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val log = graft.sources.Tables.events(spark, dir)
      .filter($"event_type".isin("signup", "purchase") && $"ts".isNotNull)
      .select($"user_id", unix_micros($"ts").as("ts_us"),
        $"event_type".as("typ"))
    val out = Staged.run(spark, Staged.withBarrier[Ev](Staged.timeCut(log, $"ts_us"),
        log.select($"user_id").distinct())) { stream =>
      funnelStream(stream.as[Ev]).toDF()
    }
    val dupUsers = out.groupBy($"user_id").count().filter($"count" =!= 1L).count()
    if (dupUsers > 0)
      throw new IllegalStateException(
        s"streamed funnel: $dupUsers users emitted != 1 row " +
          "(cross-batch funnel state lost or replayed)")
    out.select($"user_id",
      timestamp_micros($"signup_us").as("signup_ts"),
      timestamp_micros($"purchase_us").as("purchase_ts"),
      ($"purchase_us" - $"signup_us").as("delay_us"))
  }
}
