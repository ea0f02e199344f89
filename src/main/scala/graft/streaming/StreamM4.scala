package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Streaming twin of [[graft.operators.Telemetry.m4]] — the M4
  * dashboard downsampler (Jugel et al., VLDB 2014) run as a LIVE
  * watermarked tumbling-window aggregation: `window(ts, "6 hours")`
  * keyed by user_id in APPEND mode, so each pixel-column bucket emits
  * its four points (first/last/min/max) exactly once — when the
  * event-time watermark passes the bucket boundary and its state
  * drops. first/last elect via `min_by`/`max_by` over exact integer
  * µs (the same partial-aggregable election the batch operator
  * uses), so per-(user, bucket) state is five scalars however many
  * raw events the bucket holds — the chart-preview feed that absorbs
  * any ingest rate.
  *
  * Spark's `window()` floors to epoch-aligned buckets, which is the
  * oracle's `//`-floor arithmetic exactly (the batch operator's
  * integer `div` agrees on the post-1970 domain). Marker exclusion
  * is by TIME, not key: real buckets start before 2100, the
  * watermark markers' buckets cannot — no reserved device id needed.
  *
  * Gated property: the cut lands inside the busiest bucket's own
  * [first, last] span so at least one bucket provably carries window
  * state across the micro-batch boundary. Shares ts_m4's DuckDB
  * oracle.
  */
object StreamM4 {

  /** Midpoint of the busiest multi-event (user, bucket) span — the
    * StreamOhlc straddling-cut election at M4's bucket width. */
  private def straddlingCut(ev: DataFrame): Option[Long] = {
    import ev.sparkSession.implicits._
    ev.groupBy($"user_id",
        window($"ts", "6 hours").getField("start").as("bucket"))
      .agg(min(unix_micros($"ts")).as("lo"), max(unix_micros($"ts")).as("hi"),
        count(lit(1)).as("n"))
      .filter($"lo" < $"hi")
      .orderBy($"n".desc, $"user_id".asc_nulls_first, $"bucket".asc)
      .limit(1).collect().headOption
      .map(r => (r.getAs[Long]("lo") + r.getAs[Long]("hi")) / 2)
  }

  def streamedM4(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // value IS NOT NULL: the batch ohlc/m4 null contract
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"value".isNotNull && $"ts".isNotNull)
      .select($"user_id", $"ts", $"value")
    def marker(us: Long): DataFrame =
      spark.range(1).select(lit(-1L).as("user_id"), timestamp_micros(lit(us)).as("ts"),
        lit(0.0d).as("value"))
    val buckets = Staged.run(spark, Staged.closingWindows(
        Staged.timeCut(ev, unix_micros($"ts"), straddlingCut(ev)), marker)) { stream =>
      stream
        .withWatermark("ts", "0 seconds")
        .groupBy(window($"ts", "6 hours"), $"user_id")
        .agg(
          count(lit(1)).cast(LongType).as("n_points"),
          min_by($"value", unix_micros($"ts")).as("v_first"),
          max_by($"value", unix_micros($"ts")).as("v_last"),
          min($"value").as("v_min"),
          max($"value").as("v_max"))
    }
    buckets
      .filter(unix_micros($"window.start") < Staged.FarFutureUs)
      .select($"user_id", $"window.start".as("bucket"),
        $"n_points", $"v_first", $"v_last", $"v_min", $"v_max")
  }
}
