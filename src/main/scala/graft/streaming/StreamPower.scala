package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

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
  def rollup(ev: Dataset[Ev]): Dataset[Out] =
    Staged.atBarrier(ev)(_.user_id, _.sentinel)(St(0L, 0L, 0L)) { (st, e) =>
      St(st.n + 1L, st.cents + e.cents.getOrElse(0L), st.nvals + e.cents.size)
    } { (uid, st) => Some(Out(uid, st.n, st.cents, st.nvals)) }

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
    val flushed = Staged.run(spark, Staged.withBarrier[Ev](Staged.timeCut(ev, $"tsUs"),
        ev.select($"user_id").distinct())) { stream =>
      rollup(stream.as[Ev]).toDF()
    }
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
