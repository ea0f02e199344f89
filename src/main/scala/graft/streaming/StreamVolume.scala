package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

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
  case class DayCell(dayUs: Long, n: Long)
  case class St(cells: Seq[DayCell])
  case class Out(event_type: Option[String], dayUs: Long, n_events: Long)

  /** The stateful core: day→count folds per type; sentinel flushes
    * the census. */
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
              val i = cells.indexWhere(_.dayUs == e.dayUs)
              cells =
                if (i < 0) DayCell(e.dayUs, 1L) :: cells
                else cells.updated(i, cells(i).copy(n = cells(i).n + 1L))
            }
          }
          state.update(St(cells))
          if (flush) cells.iterator.map(c => Out(typ, c.dayUs, c.n))
          else Iterator.empty
      }
  }

  def streamedVolume(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"event_type",
        unix_micros(date_trunc("day", $"ts")).as("dayUs"),
        unix_micros($"ts").as("tsUs"))
    val bounds = ev.agg(min($"tsUs"), max($"tsUs")).head()
    if (bounds.isNullAt(0)) return spark.emptyDataFrame
    val cut = (bounds.getLong(0) + bounds.getLong(1)) / 2
    val sentinels = ev.select($"event_type").distinct()
      .select($"event_type", lit(0L).as("dayUs"),
        lit(bounds.getLong(1) + 1L).as("tsUs"), lit(true).as("sentinel"))
    // the sentinel RIDES the final data micro-batch (not a third
    // batch): the fold is flag-based — it drains the whole batch
    // iterator before emitting — so the flush still snapshots state
    // from BOTH batches, and one fewer micro-batch is one less round
    // of per-trigger planning + state-store commits
    val flushed = StreamDedup.runStagedStream(spark, Seq(
        ev.filter($"tsUs" <= cut)
          .select($"event_type", $"dayUs", lit(false).as("sentinel")),
        ev.filter($"tsUs" > cut)
          .select($"event_type", $"dayUs", lit(false).as("sentinel"))
          .unionByName(sentinels.drop("tsUs")))) { stream =>
      census(stream.as[Ev]).toDF()
    }.getOrElse(return spark.emptyDataFrame)
    // localCheckpoint: the assembly self-joins the census (stats ×
    // daily both derive from it) and the memory-sink view exposes ONE
    // attribute set — same rationale as StreamXcorr's census; the
    // frame is day-dimension-sized
    graft.operators.Quality.volumeAssembly(
      flushed.select($"event_type", timestamp_micros($"dayUs").as("day"),
        $"n_events").localCheckpoint())
  }
}
