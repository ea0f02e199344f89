package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

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
  def census(ev: Dataset[Ev]): Dataset[Out] = {
    val spark = ev.sparkSession
    import spark.implicits._
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[St, Out](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, it, state: GroupState[St]) =>
          var st = state.getOption.orNull
          var flush = false
          it.foreach { e =>
            if (e.event_id == -1L) flush = true
            else st =
              if (st == null) St(e.tsUs, 1L, e.purchase_cents.getOrElse(0L))
              else St(math.max(st.lastUs, e.tsUs), st.freq + 1L,
                Math.addExact(st.cents, e.purchase_cents.getOrElse(0L)))
          }
          if (st != null) state.update(st)
          if (flush && st != null) Iterator.single(Out(uid, st.lastUs, st.freq, st.cents))
          else Iterator.empty
      }
  }

  def streamedRfm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"user_id", unix_micros($"ts").as("tsUs"), $"event_id",
        when($"event_type" === "purchase",
          (graft.operators.dec($"value") * 100).cast("long")).as("purchase_cents"))
    val bounds = ev.agg(min($"tsUs"), max($"tsUs")).head()
    if (bounds.isNullAt(0)) return spark.emptyDataFrame
    val cut = (bounds.getLong(0) + bounds.getLong(1)) / 2
    val sentinels = ev.select($"user_id").distinct()
      .select($"user_id", lit(bounds.getLong(1) + 1L).as("tsUs"),
        lit(-1L).as("event_id"), lit(null).cast("long").as("purchase_cents"))
    val flushed = StreamDedup.runStagedStream(spark,
        Seq(ev.filter($"tsUs" <= cut), ev.filter($"tsUs" > cut), sentinels)) { stream =>
      census(stream.as[Ev]).toDF()
    }.getOrElse(return spark.emptyDataFrame)
    graft.operators.Telemetry.rfmAssembly(
      flushed.select($"user_id", $"last_us", $"frequency",
        ($"cents".cast("decimal(18,0)") / 100)
          .cast("decimal(18,2)").as("monetary_dec")))
  }
}
