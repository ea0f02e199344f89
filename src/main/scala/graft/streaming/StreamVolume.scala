package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Quality

/** Streaming twin of [[graft.operators.Quality.volume]] — the volume
  * anomaly monitor fed LIVE: the batch (type, day) census
  * ([[graft.operators.Quality.volumeCensus]], bounded by the TIME
  * AXIS — days, not events) runs as a streaming aggregation over the
  * staged events. A day's spike verdict compares against the
  * mean/variance over ALL the type's days, so the spike assembly runs
  * day-dimension-sized over the final census — the batch operator's
  * own ([[graft.operators.Quality.volumeAssembly]]). Shares
  * dq_volume's oracle.
  *
  * Gated property: a day's count split across the micro-batch cut
  * must accumulate into one census cell.
  */
object StreamVolume {

  def streamedVolume(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.sources.Tables.events(spark, dir).select(col("event_type"), col("ts"))
    // localCheckpoint: the assembly self-joins the census (stats ×
    // daily both derive from it) and the sink scan exposes ONE
    // attribute set; the frame is day-dimension-sized
    Quality.volumeAssembly(Staged.aggregate(spark, Staged.timeCut(ev, unix_micros(col("ts"))))(
      Quality.volumeCensus).localCheckpoint())
  }
}
