package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Quality.volume]] — the volume
  * anomaly monitor fed LIVE: per-type state is the day→count census
  * (bounded by the TIME AXIS — days, not events), folded order-free;
  * types flush at the audit barrier because a day's spike verdict
  * compares against the mean/variance over ALL the type's days (no
  * cell is final before the snapshot). The spike assembly runs
  * day-dimension-sized over the flushed census — the batch
  * operator's own ([[graft.operators.Quality.volumeAssembly]]).
  * Shares dq_volume's oracle.
  *
  * Gated property: a day's count split across the micro-batch cut
  * must accumulate into one census cell.
  */
object StreamVolume {

  case class Ev(event_type: Option[String], dayUs: Long, sentinel: Boolean)
  case class Out(event_type: Option[String], dayUs: Long, n_events: Long)

  /** The stateful core: day→count folds per type; sentinel flushes
    * the census. */
  def census(ev: Dataset[Ev]): Dataset[Out] =
    Staged.atBarrier(ev)(_.event_type, _.sentinel)(Map.empty[Long, Long]) { (cells, e) =>
      cells.updated(e.dayUs, cells.getOrElse(e.dayUs, 0L) + 1L)
    } { (typ, cells) => cells.map { case (d, n) => Out(typ, d, n) } }

  def streamedVolume(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"event_type",
        unix_micros(date_trunc("day", $"ts")).as("dayUs"),
        unix_micros($"ts").as("tsUs"))
    val flushed = Staged.run(spark, Staged.withBarrier[Ev](Staged.timeCut(ev, $"tsUs"),
        ev.select($"event_type").distinct())) { stream =>
      census(stream.as[Ev]).toDF()
    }
    // localCheckpoint: the assembly self-joins the census (stats ×
    // daily both derive from it) and the sink scan exposes ONE
    // attribute set — same rationale as StreamXcorr's census; the
    // frame is day-dimension-sized
    graft.operators.Quality.volumeAssembly(
      flushed.select($"event_type", timestamp_micros($"dayUs").as("day"),
        $"n_events").localCheckpoint())
  }
}
