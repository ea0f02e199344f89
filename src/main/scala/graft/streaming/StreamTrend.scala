package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Telemetry

/** Streaming twin of [[graft.operators.Telemetry.trend]] — the
  * hourly-volume OLS slope run as a LIVE capacity readout: the batch
  * (stream, hour) census ([[graft.operators.Telemetry.trendCensus]],
  * bounded by the TIME AXIS) runs as a streaming aggregation over the
  * staged events. The slope normalizes t to the CORPUS hour origin
  * and spans the corpus hour range — population facts no single key
  * can see — so the batch operator's own assembly
  * ([[graft.operators.Telemetry.trendAssembly]]: the h0/H reduction,
  * closed-form Σt/Σt², the per-stream rollup) runs over the final
  * census. Shares ts_trend's oracle.
  *
  * Gated property: an hour cell split across the micro-batch cut
  * accumulates into one counter — a lost arrival bends the slope.
  */
object StreamTrend {

  def streamedTrend(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.sources.Tables.events(spark, dir).select(col("event_type"), col("ts"))
    // localCheckpoint: the assembly reduces the census to (h0, H)
    // driver-side, then re-aggregates it — two passes over one sink
    // scan exposing one attribute set
    Telemetry.trendAssembly(Staged.aggregate(spark, Staged.timeCut(ev, unix_micros(col("ts"))))(
      Telemetry.trendCensus).localCheckpoint())
  }
}
