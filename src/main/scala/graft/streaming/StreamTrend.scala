package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

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
  case class HourCell(h: Long, y: Long)
  case class St(cells: Seq[HourCell])
  case class Out(event_type: Option[String], h: Long, y: Long)

  /** The stateful core: hour→count census per stream; sentinel
    * flushes. */
  def census(ev: Dataset[Ev]): Dataset[Out] = {
    val spark = ev.sparkSession
    import spark.implicits._
    ev.groupByKey(_.event_type)
      .flatMapGroupsWithState[St, Out](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (typ, it, state: GroupState[St]) =>
          var cells = state.getOption.map(_.cells.toList).getOrElse(Nil)
          var flush = false
          it.foreach { e =>
            if (e.sentinel) flush = true
            else {
              val i = cells.indexWhere(_.h == e.h)
              cells =
                if (i < 0) HourCell(e.h, 1L) :: cells
                else cells.updated(i, cells(i).copy(y = cells(i).y + 1L))
            }
          }
          state.update(St(cells))
          if (flush) cells.iterator.map(c => Out(typ, c.h, c.y))
          else Iterator.empty
      }
  }

  def streamedTrend(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"event_type",
        expr("(unix_micros(ts) - pmod(unix_micros(ts), 3600000000)) DIV 3600000000").as("h"),
        unix_micros($"ts").as("tsUs"))
    val bounds = ev.agg(min($"tsUs"), max($"tsUs")).head()
    if (bounds.isNullAt(0)) return spark.emptyDataFrame
    val cut = (bounds.getLong(0) + bounds.getLong(1)) / 2
    val sentinels = ev.select($"event_type").distinct()
      .select($"event_type", lit(0L).as("h"), lit(true).as("sentinel"))
    val flushed = StreamDedup.runStagedStream(spark, Seq(
        ev.filter($"tsUs" <= cut).select($"event_type", $"h", lit(false).as("sentinel")),
        ev.filter($"tsUs" > cut).select($"event_type", $"h", lit(false).as("sentinel"))
          .unionByName(sentinels))) { stream =>
      census(stream.as[Ev]).toDF()
    }.getOrElse(return spark.emptyDataFrame)
    // localCheckpoint: the assembly reduces the census to (h0, H)
    // driver-side, then re-aggregates it — two passes over a
    // memory-sink view exposing one attribute set
    graft.operators.Telemetry.trendAssembly(
      flushed.select($"event_type", $"h", $"y").localCheckpoint())
  }
}
