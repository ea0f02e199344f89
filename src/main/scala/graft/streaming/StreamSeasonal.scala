package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Telemetry

/** Streaming twin of [[graft.operators.Telemetry.seasonal]] — the
  * hour-of-day profile maintained INCREMENTALLY: one counter per
  * (event_type, hour-of-day, day) cell — cells bounded by
  * 24 × days × types (the time axis, not the stream) — as a streaming
  * aggregation over the batch operator's own rows
  * ([[graft.operators.Telemetry.hourDays]]). The batch census counts
  * distinct days, which a streaming aggregate cannot, so the twin
  * keeps the day in its key and rolls the final census up to
  * per-(type, hod) totals and day counts; the seasonal-index assembly
  * is the batch operator's own
  * ([[graft.operators.Telemetry.seasonalAssembly]]). Counts crossing
  * the staged cut must fold into batch-1 cell state; the shared
  * `ts_seasonal` oracle gates the equality, decimal index included.
  */
object StreamSeasonal {

  def streamedSeasonal(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.sources.Tables.events(spark, dir).select(col("event_type"), col("ts"))
    val cells = Staged.aggregate(spark, Staged.timeCut(ev, unix_micros(col("ts")))) { stream =>
      Telemetry.hourDays(stream).groupBy(col("event_type"), col("hod"), col("day"))
        .agg(count(lit(1)).as("n"))
    }
    // localCheckpoint cuts the sink lineage (the census feeds both
    // join sides) and the census is (types × 24)-sized, so the cut is
    // free
    Telemetry.seasonalAssembly(cells.groupBy(col("event_type"), col("hod"))
      .agg(sum(col("n")).as("n_events"), count(lit(1)).as("n_days"))
      .localCheckpoint())
  }
}
