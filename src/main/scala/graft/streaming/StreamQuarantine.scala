package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Quality

/** Streaming twin of [[graft.operators.Quality.quarantine]] — the
  * admission-control counters run ONLINE, the way ingestion gates
  * actually work: the batch operator's one global aggregate
  * ([[graft.operators.Quality.quarantineCounts]]: the expectations as
  * 0/1/NULL longs from its own three-valued expressions, so
  * NULL-condition rows keep SUM's skip-null semantics) runs as a
  * streaming aggregation over the staged events. Partial aggregation
  * sums the flags map-side, so the single state-store key never sees
  * the raw stream. NULL-ts rows still stream (the batch COUNT(*)
  * counts them): they ride in batch 1. The batch 5-row explode
  * ([[graft.operators.Quality.quarantineReport]]) runs over the final
  * row; the shared `events_quarantine` oracle gates it. Rows crossing
  * the micro-batch cut must fold into batch-1 counter state.
  */
object StreamQuarantine {

  def streamedQuarantine(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.sources.Tables.events(spark, dir)
      .select(col("value"), col("event_type"), col("user_id"), col("ts"))
    Quality.quarantineReport(
      Staged.aggregate(spark, Staged.timeCut(ev, unix_micros(col("ts"))))(Quality.quarantineCounts))
  }
}
