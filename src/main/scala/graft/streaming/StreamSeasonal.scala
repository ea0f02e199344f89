package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Telemetry.seasonal]] — the
  * hour-of-day profile maintained INCREMENTALLY: state is one counter
  * per (event_type, hour-of-day, day) cell — O(1) per cell, cells
  * bounded by 24 × days × types (the time axis, not the stream) —
  * flushed once at a sentinel barrier, then the seasonal-index
  * assembly (per-(type, hod) totals, distinct-day counts, per-type
  * normalizer) runs over the flushed census exactly as the batch
  * operator runs it over its own census. Counts crossing the staged
  * cut must fold into batch-1 cell state; the shared `ts_seasonal`
  * oracle gates the equality, decimal index included.
  */
object StreamSeasonal {

  case class Cell(event_type: String, hod: Long, day: Long, sentinel: Boolean)
  case class CellOut(event_type: String, hod: Long, day: Long, n: Long)

  /** The stateful core: per-cell counter, emitted once at the
    * sentinel. */
  def census(ev: Dataset[Cell]): Dataset[CellOut] =
    Staged.atBarrier(ev)(e => (e.event_type, e.hod, e.day), _.sentinel)(0L)((n, _) => n + 1L) {
      case ((tp, hod, day), n) => Some(CellOut(tp, hod, day, n))
    }

  def streamedSeasonal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull && $"event_type".isNotNull)
      .select($"event_type",
        expr("pmod((unix_micros(ts) - pmod(unix_micros(ts), 3600000000)) DIV 3600000000, 24)").as("hod"),
        expr("(unix_micros(ts) - pmod(unix_micros(ts), 86400000000)) DIV 86400000000").as("day"),
        unix_micros($"ts").as("tsUs"))
    val cells = Staged.run(spark, Staged.withBarrier[Cell](Staged.timeCut(ev, $"tsUs"),
        ev.select($"event_type", $"hod", $"day").distinct())) { stream =>
      census(stream.as[Cell]).toDF()
    }
    // every cell emits exactly once (duplicate/missing = state
    // replayed or lost)
    val bad = cells.groupBy($"event_type", $"hod", $"day").count()
      .filter($"count" =!= 1L).count()
    if (bad > 0)
      throw new IllegalStateException(
        s"streamed seasonal: $bad cells emitted != once " +
          "(cross-batch census state lost or replayed)")
    // the batch operator's own assembly over the streamed census;
    // localCheckpoint cuts the sink lineage (byHod feeds both join
    // sides) and the census is (types × 24)-sized, so the cut is free
    val byHod = cells.groupBy($"event_type", $"hod")
      .agg(sum($"n").as("n_events"), count(lit(1)).as("n_days"))
      .localCheckpoint()
    val totals = byHod.groupBy($"event_type").agg(sum($"n_events").as("n_type"))
    byHod.join(broadcast(totals), "event_type")
      .select($"event_type", $"hod", $"n_events", $"n_days",
        (($"n_events" * 24L).cast("double") / $"n_type".cast("double"))
          .as("seasonal_idx"))
  }
}
