package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Telemetry.xcorr]] — the
  * cross-correlation matrix maintained LIVE: the corpus-sized pass
  * (hourly counts per event type) runs as a watermarked tumbling-
  * window aggregation in APPEND mode, so each (type, hour) cell
  * emits exactly once — when the event-time watermark passes the
  * hour boundary and its one-counter state drops.
  *
  * The lagged type-pair power sums need the FINAL count of every
  * hour in the window span — a cross-key join Structured Streaming
  * cannot run over an unbounded stream. As with StreamOhlc's
  * day-over-day delta, the production shape is exactly what the gate
  * stages: closed cells land in an append-only sink (final, never
  * retracted) and the dense-calendar lag join + power sums run as a
  * dimension-sized batch view over the sink — types² × hours × lags
  * rows regardless of raw stream volume
  * ([[graft.operators.Telemetry.xcorrFromCounts]], the SAME assembly
  * the batch operator uses, so the twin shares ts_xcorr's oracle).
  * Append-mode finality is the property that makes the sink-side
  * join well-defined; the twin exists because the census is the only
  * part of ts_xcorr that touches the firehose.
  *
  * Gated property: the two micro-batches cut INSIDE the busiest
  * multi-event (type, hour) cell's own [first, last] µs span, so at
  * least one cell provably carries window state across the cut. The
  * watermark markers carry event_type "__sentinel__" and filter out.
  */
object StreamXcorr {

  /** Midpoint of the busiest multi-event (type, hour) cell's
    * [first, last] µs span — a cut that some cell's events provably
    * straddle. Deterministic election: count desc, (type, h) asc. */
  private[streaming] def straddlingCut(spark: SparkSession, dir: String): Option[Long] = {
    import spark.implicits._
    graft.sources.Tables.events(spark, dir)
      .groupBy($"event_type",
        expr("(unix_micros(ts) - pmod(unix_micros(ts), 3600000000)) DIV 3600000000").as("h"))
      .agg(min(unix_micros($"ts")).as("lo"), max(unix_micros($"ts")).as("hi"),
        count(lit(1)).as("n"))
      .filter($"lo" < $"hi")
      .orderBy($"n".desc, $"event_type".asc, $"h".asc)
      .limit(1).collect().headOption
      .map(r => (r.getAs[Long]("lo") + r.getAs[Long]("hi")) / 2)
  }

  /** The shared staged streaming hourly census: (event_type, h, n)
    * final cells, one emission per cell (duplicate emission fails
    * loudly), localCheckpointed so downstream assemblies can
    * self-join, with the census hour bounds ((0, −1), no hour, on an
    * empty census). Both [[streamedXcorr]] and [[streamedDispersion]]
    * run on this — the census is the only part of either diagnostic
    * that touches the firehose. */
  private[streaming] def streamedHourlyCensus(spark: SparkSession,
      dir: String): (DataFrame, (Long, Long)) = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"ts", $"event_type")
    def marker(us: Long): DataFrame =
      spark.range(1).select(timestamp_micros(lit(us)).as("ts"),
        lit("__sentinel__").as("event_type"))
    val cells = Staged.run(spark, Staged.closingWindows(
        Staged.timeCut(ev, unix_micros($"ts"), straddlingCut(spark, dir)), marker)) { stream =>
      stream
        .withWatermark("ts", "0 seconds")
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"))
        .select($"event_type",
          expr("unix_micros(window.start) DIV 3600000000").as("h"), $"n")
    }
    // localCheckpoint: the assemblies self-join the census (distinct
    // types × dense grid both derive from it) and the sink scan
    // exposes ONE attribute set — DeduplicateRelations can only
    // re-alias a materialized LogicalRDD, so without this the join
    // fails analysis with conflicting references
    // null-safe (<=>): a NULL event_type is a real series the batch
    // operator groups; =!= would silently drop it with the markers
    val counts = cells.filter(!($"event_type" <=> "__sentinel__"))
      .localCheckpoint()
    // ONE job yields the append-mode finality check AND the census
    // hour bounds the assemblies need (r14: the dup-check count and
    // each assembly's min/max head were separate driver jobs)
    val chk = counts.groupBy($"event_type", $"h").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(when($"c" =!= 1L, 1L)), lit(0L)).as("dups"),
        min($"h").as("lo"), max($"h").as("hi")).head()
    // a cell emitted twice means window state was lost and recounted —
    // fail loudly, never hash-diverge
    if (chk.getLong(0) > 0)
      throw new IllegalStateException(
        s"streamed hourly census: ${chk.getLong(0)} (type, hour) cells " +
          "emitted != 1 time (tumbling-window state lost or replayed " +
          "across batches)")
    (counts, if (chk.isNullAt(1)) (0L, -1L) else (chk.getLong(1), chk.getLong(2)))
  }

  def streamedXcorr(spark: SparkSession, dir: String, maxLag: Int = 3): DataFrame = {
    val (c, hours) = streamedHourlyCensus(spark, dir)
    graft.operators.Telemetry.xcorrFromCounts(spark, c, maxLag, Some(hours))
  }

  /** Streaming twin of events_dispersion (`stream_dispersion`): the
    * identical staged census, then the VMR rollup — types × hours of
    * state however large the stream, sharing the batch oracle. */
  def streamedDispersion(spark: SparkSession, dir: String): DataFrame = {
    val (c, hours) = streamedHourlyCensus(spark, dir)
    graft.operators.Telemetry.dispersionFromCounts(
      spark, c.withColumnRenamed("n", "x"), Some(hours))
  }
}
