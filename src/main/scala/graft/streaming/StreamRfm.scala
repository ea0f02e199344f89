package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Telemetry.rfm]] — the
  * recency/frequency/monetary segmentation maintained LIVE: per-user
  * state is THREE integers (last-activity µs, event count, purchase
  * cents — cents keep the decimal-exact monetary sum an IEEE double
  * accumulator would drift on), folded order-free so arrival order
  * across micro-batches is immaterial. Users flush ONCE at a
  * per-user sentinel barrier: RFM scores are quartile RANKS against
  * the whole population at the snapshot instant, so no per-user row
  * is final until the snapshot closes — the flush is the snapshot.
  * The quartile assembly runs user-dimension-sized over the flushed
  * census ([[graft.operators.Telemetry.rfmAssembly]], the SAME
  * assembly the batch operator uses, so the twin shares events_rfm's
  * oracle).
  *
  * Gated property: a user's purchases split across the cut must
  * accumulate into ONE census row (frequency and cents summed across
  * batches, last_us the max).
  */
object StreamRfm {

  case class Ev(user_id: Option[Long], tsUs: Long, event_id: Long,
      purchase_cents: Option[Long])
  case class St(lastUs: Long, freq: Long, cents: Long)
  case class Out(user_id: Option[Long], last_us: Long, frequency: Long,
      cents: Long)

  /** The stateful core: order-free (max, count, sum) folds; sentinel
    * (event_id = −1) flushes the census row. */
  def census(ev: Dataset[Ev]): Dataset[Out] =
    Staged.atBarrier(ev)(_.user_id, _.event_id == -1L)(St(Long.MinValue, 0L, 0L)) { (st, e) =>
      St(math.max(st.lastUs, e.tsUs), st.freq + 1L,
        Math.addExact(st.cents, e.purchase_cents.getOrElse(0L)))
    } { (uid, st) => if (st.freq > 0L) Some(Out(uid, st.lastUs, st.freq, st.cents)) else None }

  def streamedRfm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"user_id", unix_micros($"ts").as("tsUs"), $"event_id",
        when($"event_type" === "purchase",
          (graft.operators.dec($"value") * 100).cast("long")).as("purchase_cents"))
    val flushed = Staged.run(spark, Staged.withBarrier[Ev](Staged.timeCut(ev, $"tsUs"),
        ev.select($"user_id").distinct().withColumn("event_id", lit(-1L)))) { stream =>
      census(stream.as[Ev]).toDF()
    }
    graft.operators.Telemetry.rfmAssembly(
      flushed.select($"user_id", $"last_us", $"frequency",
        ($"cents".cast("decimal(18,0)") / 100)
          .cast("decimal(18,2)").as("monetary_dec")))
  }
}
