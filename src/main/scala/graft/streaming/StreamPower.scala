package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Telemetry

/** Streaming twin of [[graft.operators.Telemetry.powerBudget]] — the
  * battery monitor run LIVE (notes.org: "658 mamps modem
  * transmitting", "battery life not money is limiting factor"): the
  * batch operator itself ([[graft.operators.Telemetry.powerRollup]]:
  * per device a message count and an exact DECIMAL byte sum, then the
  * energy ladder kb → transmitter seconds at 960 B/s → mAh at 658 mA
  * → % of a 2000 mAh cell) runs as a streaming aggregation over the
  * staged events. A device with ZERO non-null values reports NULL kb,
  * the batch SUM-over-nothing semantics. Shares power_budget's
  * oracle.
  *
  * Gated property: a device transmitting on both sides of the cut
  * must accumulate ONE energy total — lost state under-reports the
  * battery draw, the exact failure a battery-limited deployment
  * cannot afford.
  */
object StreamPower {

  def streamedPower(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.sources.Tables.events(spark, dir)
      .select(col("user_id"), col("value"), col("ts"))
    Staged.aggregate(spark, Staged.timeCut(ev, unix_micros(col("ts"))))(Telemetry.powerRollup)
  }
}
