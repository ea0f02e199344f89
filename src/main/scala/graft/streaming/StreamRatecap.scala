package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Telemetry

/** Streaming twin of [[graft.operators.Telemetry.rateCap]] — the
  * ingestion throttle run ONLINE: per (user, day) the state is the
  * batch operator's own census
  * ([[graft.operators.Telemetry.rateCapCensus]]), the bounded keeper
  * election (at most k (ts, event_id) pairs, the TopKPairs buffer)
  * and one running total, kept by a streaming aggregation over the
  * staged events. The ranked keeper rows come from the final census,
  * because "how much did the cap discard" is only known when the
  * day's stream has drained.
  *
  * The keeper election is order-independent (ties on equal µs break
  * by event_id — the batch oracle's ORDER BY ts, event_id); a day
  * straddling the median-time cut fills part of its keeper set in
  * batch 1 and must reject/displace batch-2 arrivals against it.
  * NULL-ts events count toward the total but never enter the keeper
  * set. Shares `events_ratecap`'s oracle.
  */
object StreamRatecap {

  def streamedRatecap(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val ev = graft.sources.Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
    Telemetry.rateCapAssembly(Staged.aggregate(spark, Staged.timeCut(ev, unix_micros(col("ts"))))(
      Telemetry.rateCapCensus(_, k)))
  }
}
