package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Telemetry.trend]] — the
  * hourly-volume OLS slope run as a LIVE capacity readout: per stream
  * the state is the hour → count census (bounded by the TIME AXIS,
  * the stream_volume bound), folded order-free; streams flush at the
  * snapshot barrier because the slope normalizes t to the CORPUS
  * hour origin and spans the corpus hour range — population facts no
  * single key can see. The flushed census feeds the batch operator's
  * own assembly ([[graft.operators.Telemetry.trendAssembly]]): the
  * h0/H reduction, closed-form Σt/Σt², and the per-stream rollup —
  * all ∝ occupied hours. Shares ts_trend's oracle.
  *
  * Gated property: an hour cell split across the micro-batch cut
  * accumulates into one counter — a lost arrival bends the slope.
  */
object StreamTrend {

  case class Ev(event_type: Option[String], h: Long, sentinel: Boolean)
  case class Out(event_type: Option[String], h: Long, y: Long)

  /** The stateful core: hour→count census per stream; sentinel
    * flushes. */
  def census(ev: Dataset[Ev]): Dataset[Out] =
    Staged.atBarrier(ev)(_.event_type, _.sentinel)(Map.empty[Long, Long]) { (cells, e) =>
      cells.updated(e.h, cells.getOrElse(e.h, 0L) + 1L)
    } { (typ, cells) => cells.map { case (h, y) => Out(typ, h, y) } }

  def streamedTrend(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"event_type",
        expr("(unix_micros(ts) - pmod(unix_micros(ts), 3600000000)) DIV 3600000000").as("h"),
        unix_micros($"ts").as("tsUs"))
    val flushed = Staged.run(spark, Staged.withBarrier[Ev](Staged.timeCut(ev, $"tsUs"),
        ev.select($"event_type").distinct())) { stream =>
      census(stream.as[Ev]).toDF()
    }
    // localCheckpoint: the assembly reduces the census to (h0, H)
    // driver-side, then re-aggregates it — two passes over one sink
    // scan exposing one attribute set
    graft.operators.Telemetry.trendAssembly(
      flushed.select($"event_type", $"h", $"y").localCheckpoint())
  }
}
