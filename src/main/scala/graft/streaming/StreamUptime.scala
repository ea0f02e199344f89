package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Telemetry

/** Streaming twin of [[graft.operators.Telemetry.uptime]] — the fleet
  * duty-cycle audit fed LIVE: the batch (device, 5-minute slot)
  * census ([[graft.operators.Telemetry.uptimeCensus]], bounded by the
  * TIME AXIS — slots, never events) runs as a streaming aggregation
  * over the staged events. The span denominator (last − first + 1) is
  * only defined at the snapshot, so the batch operator's own rollup
  * ([[graft.operators.Telemetry.uptimeAssembly]]) runs over the final
  * census. Shares events_uptime's oracle.
  *
  * Gated property: a device's slot occupied on both sides of the cut
  * must count once in n_slots_active while n_events keeps both
  * arrivals.
  */
object StreamUptime {

  def streamedUptime(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.sources.Tables.events(spark, dir).select(col("user_id"), col("ts"))
    Telemetry.uptimeAssembly(
      Staged.aggregate(spark, Staged.timeCut(ev, unix_micros(col("ts"))))(Telemetry.uptimeCensus))
  }
}
