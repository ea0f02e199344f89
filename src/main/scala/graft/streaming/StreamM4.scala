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
  * integer `div` agrees on the post-1970 domain). Sentinel exclusion
  * is by TIME, not key: real buckets start at or before the corpus
  * max event time, sentinel buckets (2 and 4 days past it) cannot —
  * no reserved device id needed.
  *
  * Batch-gated run: the cut lands inside the busiest bucket's own
  * [first, last] span so at least one bucket provably carries window
  * state across the micro-batch boundary; two sentinels advance the
  * watermark so every real bucket closes and flushes. Shares ts_m4's
  * DuckDB oracle.
  */
object StreamM4 {

  private val BucketUs = 21600000000L

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
    val bounds = ev.agg(min(unix_micros($"ts")), max(unix_micros($"ts"))).head()
    if (bounds.isNullAt(0)) return spark.emptyDataFrame
    val hiUs = bounds.getLong(1)
    val cutUs = straddlingCut(ev).getOrElse((bounds.getLong(0) + hiUs) / 2)
    val dayUs = 86400000000L
    def sentinel(offsetUs: Long): DataFrame =
      spark.range(1).select(
        lit(-1L).as("user_id"),
        timestamp_micros(lit(hiUs + offsetUs)).as("ts"),
        lit(0.0d).as("value"))
    // sentinel 1 rides the last data batch — identical emitted set,
    // one micro-batch cheaper (see StreamXcorr's staging note, r14)
    val buckets = StreamDedup.runStagedStream(spark, Seq(
        ev.filter(unix_micros($"ts") <= cutUs),
        ev.filter(unix_micros($"ts") > cutUs)
          .unionByName(sentinel(2L * dayUs)),
        sentinel(4L * dayUs))) { stream =>
      stream
        .withWatermark("ts", "0 seconds")
        .groupBy(window($"ts", "6 hours"), $"user_id")
        .agg(
          count(lit(1)).cast(LongType).as("n_points"),
          min_by($"value", unix_micros($"ts")).as("v_first"),
          max_by($"value", unix_micros($"ts")).as("v_last"),
          min($"value").as("v_min"),
          max($"value").as("v_max"))
    }.getOrElse(return spark.emptyDataFrame)
    // time-based sentinel exclusion: a real bucket starts <= the
    // corpus max event time; sentinel buckets start days past it
    buckets
      .filter(unix_micros($"window.start") <= hiUs)
      .select($"user_id", $"window.start".as("bucket"),
        $"n_points", $"v_first", $"v_last", $"v_min", $"v_max")
  }
}
