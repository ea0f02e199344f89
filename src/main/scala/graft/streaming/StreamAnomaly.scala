package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Telemetry, dec}

/** Streaming moment accumulation for the outlier gate — the
  * reference's anomaly check (notes.org's data-quality pass) as an
  * INCREMENTAL operator: the batch operator's per-user moments
  * ([[graft.operators.Telemetry.anomalyStats]]: n and the exact
  * DECIMAL Σx, Σx², reduced to mu/variance) run as a streaming
  * aggregation held in O(1) state per user across micro-batches, then
  * the flagging pass ([[graft.operators.Telemetry.anomalyFlags]])
  * joins events against the final statistics. This is the canonical
  * two-phase shape for a global-statistic gate over an unbounded
  * stream: you cannot flag event i against statistics that include
  * event j>i without either buffering the stream (O(N) state —
  * unacceptable) or splitting stats accumulation from scoring;
  * production monitors do exactly this (a stats service updated
  * incrementally + a scorer that reads the latest snapshot).
  *
  * Exactness: the sums are the batch DECIMAL sums (order-independent,
  * and an overflow fails under ANSI instead of wrapping), so the
  * shared `events_anomaly` oracle hash-matches bit-for-bit —
  * including boundary rows where a 1-ulp drift in mu would flip the
  * 2σ comparison. A per-batch restart would shift every user's mean
  * and flip borderline flags.
  */
object StreamAnomaly {

  def streamedAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.sources.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), dec(col("value")).as("x"), col("ts"))
    val stats = Staged.aggregate(spark, Staged.timeCut(ev.select(col("user_id"), col("x"), col("ts")),
      unix_micros(col("ts"))))(Telemetry.anomalyStats)
    Telemetry.anomalyFlags(ev, stats)
  }
}
