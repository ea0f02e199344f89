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
  * Gated property: windows straddling the micro-batch cut must CARRY
  * state across it. The watermark markers carry user_id =
  * Long.MinValue and filter out of the result. Shares beacon_5min's
  * DuckDB oracle: the streaming emission must equal the batch groupBy
  * exactly (same buckets, decimal-exact sums).
  */
object StreamBeacon {

  def streamedBeacon(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"event_id", $"ts", $"user_id", $"value")
    // marker device = Long.MinValue, filtered NULL-SAFELY below:
    // `user_id >= 0` would also drop the NULL-user series the batch
    // groupBy keeps
    def marker(us: Long): DataFrame =
      spark.range(1).select(lit(-1L).as("event_id"), timestamp_micros(lit(us)).as("ts"),
        lit(Long.MinValue).as("user_id"), lit(0.0d).as("value"))
    val out = Staged.run(spark,
        Staged.closingWindows(Staged.timeCut(ev, unix_micros($"ts")), marker)) { stream =>
      stream
        .withWatermark("ts", "0 seconds")
        .groupBy(window($"ts", "5 minutes"), $"user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(graft.operators.dec($"value")).as("sum_dec"),
          min($"ts").as("first_ts"),
          max($"ts").as("last_ts"))
    }
    out.filter(!($"user_id" <=> Long.MinValue))
      .select($"user_id", $"window.start".as("bucket"), $"n_events",
        $"sum_dec".cast(DoubleType).as("sum_value"), $"first_ts", $"last_ts")
  }
}
