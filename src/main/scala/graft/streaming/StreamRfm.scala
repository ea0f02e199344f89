package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Telemetry

/** Streaming twin of [[graft.operators.Telemetry.rfm]] — the
  * recency/frequency/monetary segmentation maintained LIVE: the batch
  * per-user census ([[graft.operators.Telemetry.rfmCensus]]: last
  * activity, event count, exact DECIMAL purchase sum) runs as a
  * streaming aggregation over the staged events, order-free so
  * arrival order across micro-batches is immaterial. RFM scores are
  * quartile RANKS against the whole population at the snapshot
  * instant, so the quartile assembly runs user-dimension-sized over
  * the final census ([[graft.operators.Telemetry.rfmAssembly]], the
  * SAME assembly the batch operator uses, so the twin shares
  * events_rfm's oracle).
  *
  * Gated property: a user's purchases split across the cut must
  * accumulate into ONE census row (frequency and cents summed across
  * batches, last_us the max).
  */
object StreamRfm {

  def streamedRfm(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.sources.Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
    Telemetry.rfmAssembly(
      Staged.aggregate(spark, Staged.timeCut(ev, unix_micros(col("ts"))))(Telemetry.rfmCensus))
  }
}
