package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Telemetry

/** Streaming twin of [[graft.operators.Telemetry.heatmap]] — the
  * hour-of-day × day-of-week activity calendar maintained
  * INCREMENTALLY: the batch operator itself
  * ([[graft.operators.Telemetry.heatmapCensus]]: one count and one
  * exact DECIMAL value sum per (dow, hour) cell — at most 168 cells
  * however long the stream runs) runs as a streaming aggregation over
  * the staged events. A cell whose every value is NULL sums to NULL,
  * SUM's skip-null semantics on both engines. Counts crossing the
  * micro-batch cut must fold into batch-1 cell state; the shared
  * `events_heatmap` oracle gates the equality.
  */
object StreamHeatmap {

  def streamedHeatmap(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.sources.Tables.events(spark, dir).select(col("ts"), col("value"))
    Staged.aggregate(spark, Staged.timeCut(ev, unix_micros(col("ts"))))(Telemetry.heatmapCensus)
  }
}
