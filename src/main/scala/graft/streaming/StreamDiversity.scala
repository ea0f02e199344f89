package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Telemetry

/** Streaming twin of [[graft.operators.Telemetry.diversity]] — the
  * per-user Rényi-2 behavioral-diversity gate fed LIVE: the batch
  * (user, type) census ([[graft.operators.Telemetry.diversityCensus]],
  * bounded by the TYPE VOCABULARY per user) runs as a streaming
  * aggregation over the staged events. The collision index is a
  * population statistic over the user's whole distribution, so the
  * batch operator's own rollup
  * ([[graft.operators.Telemetry.diversityAssembly]]) runs over the
  * final census — ∝ occupied (user, type) cells, never events. Shares
  * events_diversity's oracle.
  *
  * Gated property: a (user, type) census cell split across the
  * micro-batch cut accumulates into one counter — a replayed or lost
  * count shifts Σc(c−1) and flips effective_types.
  */
object StreamDiversity {

  def streamedDiversity(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.sources.Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    Telemetry.diversityAssembly(
      Staged.aggregate(spark, Staged.timeCut(ev, unix_micros(col("ts"))))(Telemetry.diversityCensus))
  }
}
