package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Streaming twin of [[graft.operators.Telemetry.beacon5Min]] — the
  * reference's "send a beacon every 5 minutes" rollup (notes.org) as
  * a LIVE watermarked tumbling-window aggregation instead of a
  * retrospective groupBy: `window(ts, "5 minutes")` keyed by user,
  * append mode, so a window's row is emitted exactly once — when the
  * event-time watermark passes its end and its state is dropped.
  * This is the canonical Structured-Streaming windowed-agg shape the
  * engine would run against a live telemetry feed at 100 TB/day:
  * state per (user, open window) only, bounded by the watermark, and
  * the emitted rows are final (no retraction downstream).
  *
  * Batch-gated run: the events table stages as two median-time
  * micro-batches (windows straddling the cut must CARRY state across
  * it — the property worth gating), then two sentinel batches one
  * hour past the corpus maximum advance the watermark so every real
  * window closes and flushes to the sink (watermark emission lags one
  * batch: sentinel 1 raises the max event time seen, sentinel 2's
  * batch computes the new watermark and emits). Sentinel rows carry
  * user_id = −1 and filter out of the result; their own windows never
  * close, which is fine — they are not part of the answer. Shares
  * beacon_5min's DuckDB oracle: the streaming emission must equal the
  * batch groupBy exactly (same buckets, decimal-exact sums).
  */
object StreamBeacon {

  def streamedBeacon(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .select($"event_id", $"ts", $"user_id", $"value")
    val bounds = ev.agg(min(unix_micros($"ts")), max(unix_micros($"ts"))).head()
    if (bounds.isNullAt(0)) return spark.emptyDataFrame
    val (loUs, hiUs) = (bounds.getLong(0), bounds.getLong(1))
    val cutUs = (loUs + hiUs) / 2
    // sentinel device = Long.MinValue, filtered NULL-SAFELY below:
    // `user_id >= 0` would also drop the NULL-user series the batch
    // groupBy keeps
    def sentinel(offsetUs: Long): DataFrame =
      spark.range(1).select(
        lit(-1L).as("event_id"),
        timestamp_micros(lit(hiUs + offsetUs)).as("ts"),
        lit(Long.MinValue).as("user_id"),
        lit(0.0d).as("value"))
    // sentinel 1 rides the last data batch — identical emitted set,
    // one micro-batch cheaper (see StreamXcorr's staging note, r14)
    val out = StreamDedup.runStagedStream(spark, Seq(
        ev.filter(unix_micros($"ts") <= cutUs),
        ev.filter(unix_micros($"ts") > cutUs)
          .unionByName(sentinel(3600000000L)),
        sentinel(7200000000L))) { stream =>
      stream
        .withWatermark("ts", "0 seconds")
        .groupBy(window($"ts", "5 minutes"), $"user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(graft.operators.dec($"value")).as("sum_dec"),
          min($"ts").as("first_ts"),
          max($"ts").as("last_ts"))
    }.getOrElse(return spark.emptyDataFrame)
    out.filter(!($"user_id" <=> Long.MinValue))
      .select($"user_id", $"window.start".as("bucket"), $"n_events",
        $"sum_dec".cast(DoubleType).as("sum_value"), $"first_ts", $"last_ts")
  }
}
