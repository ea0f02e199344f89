package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of [[graft.operators.Telemetry.powerBudget]] — the
  * battery monitor run LIVE (notes.org: "658 mamps modem
  * transmitting", "battery life not money is limiting factor"): as
  * transmissions arrive, each device folds TWO order-free integers —
  * message count and byte cents (the stream_budget discipline: a
  * double accumulator drifts from the batch DECIMAL sum in the last
  * ulp; integer cents are exact in any arrival order) — and flushes
  * at the snapshot barrier, where the energy ladder (kb → transmitter
  * seconds at 960 B/s → mAh at 658 mA → % of a 2000 mAh cell) is the
  * same fixed float expression chain as the batch operator, derived
  * from the one exact sum. Shares power_budget's oracle.
  *
  * Gated property: a device transmitting on both sides of the cut
  * must accumulate ONE energy total — lost state under-reports the
  * battery draw, the exact failure a battery-limited deployment
  * cannot afford.
  */
object StreamPower {

  case class Ev(user_id: Option[Long], cents: Option[Long], sentinel: Boolean)
  case class St(n: Long, cents: Long, nvals: Long)
  case class Out(user_id: Option[Long], n_msgs: Long, cents: Long, nvals: Long)

  /** The stateful core: per-device (count, cents) fold; sentinel
    * flushes the rollup. O(1) state per device, forever. */
  def rollup(ev: Dataset[Ev]): Dataset[Out] = {
    val spark = ev.sparkSession
    import spark.implicits._
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[St, Out](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, it, state: GroupState[St]) =>
          var st = state.getOption.getOrElse(St(0L, 0L, 0L))
          var flush = false
          it.foreach { e =>
            if (e.sentinel) flush = true
            else st = St(st.n + 1L, st.cents + e.cents.getOrElse(0L),
              st.nvals + (if (e.cents.isDefined) 1L else 0L))
          }
          state.update(st)
          if (flush) Iterator.single(Out(uid, st.n, st.cents, st.nvals))
          else Iterator.empty
      }
  }

  def streamedPower(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // cents via the exact DECIMAL path (the StreamAbtest idiom):
    // round(value*100) is a double multiply whose half-cent inputs
    // (0.285 → 28.4999…) round DOWN where the batch/oracle
    // CAST(value AS DECIMAL(18,2)) rounds UP — one-cent divergence
    // between the tiers on exactly the values that tie
    val ev = graft.sources.Tables.events(spark, dir)
      .select($"user_id", unix_micros($"ts").as("tsUs"),
        (graft.operators.dec($"value") * 100).cast("long").as("cents"))
    val bounds = ev.agg(min($"tsUs"), max($"tsUs")).head()
    // all-null ts: every row routes to batch 1 (the batch shape has no
    // ts filter); truly empty corpus flows through the zero-trigger
    // staging fallback into an empty but correctly-shaped rollup
    val cut = if (bounds.isNullAt(0)) 0L
      else (bounds.getLong(0) + bounds.getLong(1)) / 2
    val sentinels = ev.select($"user_id").distinct()
      .select($"user_id", lit(null).cast("long").as("cents"),
        lit(true).as("sentinel"))
    val flushed = StreamDedup.runStagedStream(spark, Seq(
        ev.filter($"tsUs" <= cut || $"tsUs".isNull)
          .select($"user_id", $"cents", lit(false).as("sentinel")),
        ev.filter($"tsUs" > cut)
          .select($"user_id", $"cents", lit(false).as("sentinel"))
          .unionByName(sentinels))) { stream =>
      rollup(stream.as[Ev]).toDF()
    }.getOrElse(spark.emptyDataset[Out].toDF())
    // the batch operator's exact float ladder over the exact sum; a
    // device with ZERO non-null values reports NULL kb (the batch
    // SUM-over-nothing semantics), not 0.0
    flushed
      .select($"user_id", $"n_msgs",
        when($"nvals" === 0L, lit(null)).otherwise($"cents" / 100.0d).as("kb_sent"))
      .withColumn("tx_seconds", $"kb_sent" * 1000.0d / 960.0d)
      .withColumn("mah_used", $"tx_seconds" * 658.0d / 3600.0d)
      .withColumn("battery_pct", $"mah_used" / 2000.0d * 100.0d)
  }
}
