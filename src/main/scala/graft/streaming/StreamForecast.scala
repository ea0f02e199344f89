package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Telemetry

/** Streaming twin of [[graft.operators.Telemetry.forecast]] — the
  * seasonal-naive backtest fed LIVE: the stateful pass is the batch
  * per-type day→count census
  * ([[graft.operators.Telemetry.forecastCensus]], the same census
  * [[StreamVolume]] keeps: state bounded by the TIME AXIS) run as a
  * streaming aggregation over the staged events. The day−7 alignment
  * joins the census against itself, so the calendar self-join and
  * the |actual − forecast| error are the batch operator's own
  * assembly ([[graft.operators.Telemetry.forecastAssembly]]) over the
  * final census — ∝ occupied days. Shares ts_forecast's oracle.
  *
  * Gated property: a day's count split across the micro-batch cut
  * accumulates into one census cell, or both that day's actual AND
  * the day+7 forecast row corrupt.
  */
object StreamForecast {

  def streamedForecast(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.sources.Tables.events(spark, dir).select(col("event_type"), col("ts"))
    // localCheckpoint: the assembly self-joins the census (actual ×
    // day−7 prior both derive from it) over one sink scan
    Telemetry.forecastAssembly(Staged.aggregate(spark, Staged.timeCut(ev, unix_micros(col("ts"))))(
      Telemetry.forecastCensus).localCheckpoint())
  }
}
