package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Telemetry.diversity]] — the
  * per-user Rényi-2 behavioral-diversity gate fed LIVE: per user the
  * state is the event-type census (type → count, bounded by the TYPE
  * VOCABULARY — the stream_volume rationale on the behavior axis),
  * folded order-free; users flush at the snapshot barrier because the
  * collision index is a population statistic over the user's whole
  * distribution. The flushed census feeds the batch operator's own
  * rollup ([[graft.operators.Telemetry.diversityAssembly]]) —
  * ∝ occupied (user, type) cells, never events. Shares
  * events_diversity's oracle.
  *
  * Gated property: a (user, type) census cell split across the
  * micro-batch cut accumulates into one counter — a replayed or lost
  * count shifts Σc(c−1) and flips effective_types.
  */
object StreamDiversity {

  case class Ev(user_id: Option[Long], event_type: Option[String],
    sentinel: Boolean)
  case class TypeCell(event_type: Option[String], c: Long)
  case class Out(user_id: Option[Long], event_type: Option[String], c: Long)

  /** The stateful core: per-user type census; sentinel flushes the
    * user's cells. */
  def census(ev: Dataset[Ev]): Dataset[Out] =
    Staged.atBarrier(ev)(_.user_id, _.sentinel)(List.empty[TypeCell]) { (cells, e) =>
      val i = cells.indexWhere(_.event_type == e.event_type)
      if (i < 0) TypeCell(e.event_type, 1L) :: cells
      else cells.updated(i, cells(i).copy(c = cells(i).c + 1L))
    } { (uid, cells) => cells.map(c => Out(uid, c.event_type, c.c)) }

  def streamedDiversity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .select($"user_id", $"event_type", unix_micros($"ts").as("tsUs"))
    val flushed = Staged.run(spark, Staged.withBarrier[Ev](Staged.timeCut(ev, $"tsUs"),
        ev.select($"user_id").distinct())) { stream =>
      census(stream.as[Ev]).toDF()
    }
    graft.operators.Telemetry.diversityAssembly(
      flushed.select($"user_id", $"event_type", $"c"))
  }
}
