package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Telemetry

/** Streaming twin of [[graft.operators.Telemetry.queueStats]] — the
  * reference's Rx/Tx queue accounting (serial_streaming.lua
  * shellCmd) maintained LIVE: the batch operator's own per-stream
  * aggregate ([[graft.operators.Telemetry.queueCensus]]: sent/lost
  * counts, exact DECIMAL byte sums, last sent/lost times) runs as a
  * streaming aggregation over the staged events — the exact counters
  * the Lua proxy keeps per port, O(1) per stream forever. The result
  * table IS the report (the shell command is a snapshot read). Shares
  * queue_stats' oracle.
  *
  * Gated property: a stream's counters split across the cut must
  * accumulate into one report row.
  */
object StreamQueueStats {

  def streamedQueueStats(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.sources.Tables.events(spark, dir)
      .select(col("event_type"), col("ts"), col("value"), col("props"))
    Staged.aggregate(spark, Staged.timeCut(ev, unix_micros(col("ts"))))(Telemetry.queueCensus)
  }
}
