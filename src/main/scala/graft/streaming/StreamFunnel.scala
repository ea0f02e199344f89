package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
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
  * The fold is order-free and mergeable, so it is an [[Aggregator]]
  * ([[Election]]) run by a streaming aggregation per user; the funnel
  * row comes from the final state. Shares `events_funnel`'s oracle,
  * so batch-2 purchases must fold into batch-1 signup state (and
  * vice-versa promotions must fire) for the hash to match. A user
  * whose every signup has a NULL ts keeps a row with a NULL
  * signup_ts, as the batch `min(ts)` does; NULL-ts purchases never
  * qualify.
  *
  * Scale posture: the stream filters to the two funnel event types
  * BEFORE the stateful shuffle (at 100 TB that is the difference
  * between sharding the full firehose and the funnel-relevant slice),
  * and state shards on user_id — the same key the batch groupBy
  * shuffles on.
  */
object StreamFunnel {

  case class Ev(ts_us: Option[Long], typ: String)
  /** `signed`: some signup arrived, even one with a NULL ts. */
  case class FunnelState(signed: Boolean, minSignup: Long, qualMin: Long, pend: Seq[Long])
  case class FunnelOut(signed: Boolean, signup_us: Option[Long], purchase_us: Option[Long])

  private val None_ = Long.MaxValue

  private def opt(t: Long): Option[Long] = Option.when(t != None_)(t)

  /** The per-user funnel election. `merge` folds b's summary into a:
    * its min signup as a signup, its qualifying min and pending
    * entries as purchases — every purchase b dropped is at or above
    * its qualifying min, which stays the better candidate. */
  object Election extends Aggregator[Ev, FunnelState, FunnelOut] {
    def zero: FunnelState = FunnelState(signed = false, None_, None_, Nil)

    def reduce(s: FunnelState, e: Ev): FunnelState = e.typ match {
      case "signup" => e.ts_us.fold(s.copy(signed = true))(signup(s, _))
      case "purchase" => e.ts_us.fold(s)(purchase(s, _))
      case _ => s
    }

    private def signup(s: FunnelState, t: Long): FunnelState =
      if (t >= s.minSignup) s.copy(signed = true)
      else {
        // a lower min signup legitimizes pending purchases at or
        // after it — promote them into the qualifying min
        val (promoted, keep) = s.pend.partition(_ >= t)
        val q = if (promoted.isEmpty) s.qualMin else math.min(s.qualMin, promoted.min)
        // entries >= the new qualMin can never lower it again (any
        // future promotion takes min against q), so drop them — pend
        // stays bounded by distinct ts below q
        FunnelState(signed = true, t, q, keep.filter(_ < q))
      }

    private def purchase(s: FunnelState, t: Long): FunnelState =
      if (t >= s.minSignup) s.copy(qualMin = math.min(s.qualMin, t))
      else if (t < s.qualMin && !s.pend.contains(t)) s.copy(pend = s.pend :+ t)
      else s

    def merge(a: FunnelState, b: FunnelState): FunnelState = {
      val signed = if (b.signed) signup(a, b.minSignup) else a
      (b.qualMin +: b.pend).filter(_ != None_).foldLeft(signed)(purchase)
    }

    def finish(s: FunnelState): FunnelOut = FunnelOut(s.signed, opt(s.minSignup), opt(s.qualMin))
    def bufferEncoder: Encoder[FunnelState] = Encoders.product[FunnelState]
    def outputEncoder: Encoder[FunnelOut] = Encoders.product[FunnelOut]
  }

  /** The stateful core over (user_id, ts_us, typ): the [[Election]]
    * `f` per user. A NULL user never equi-joins in the batch shape,
    * so only its signups count. */
  def funnelStream(ev: DataFrame): DataFrame =
    ev.filter(col("user_id").isNotNull || col("typ") === "signup")
      .groupBy(col("user_id"))
      .agg(udaf(Election, Encoders.product[Ev])(col("ts_us"), col("typ")).as("f"))

  /** The batch-gated run: shares events_funnel's oracle. */
  def streamedFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val log = graft.sources.Tables.events(spark, dir)
      .filter($"event_type".isin("signup", "purchase"))
      .select($"user_id", unix_micros($"ts").as("ts_us"), $"event_type".as("typ"))
    Staged.aggregate(spark, Staged.timeCut(log, $"ts_us"))(funnelStream)
      .filter($"f.signed")
      .select($"user_id",
        timestamp_micros($"f.signup_us").as("signup_ts"),
        timestamp_micros($"f.purchase_us").as("purchase_ts"),
        ($"f.purchase_us" - $"f.signup_us").as("delay_us"))
  }
}
