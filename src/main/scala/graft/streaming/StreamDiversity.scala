package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

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
  case class St(cells: Seq[TypeCell])
  case class Out(user_id: Option[Long], event_type: Option[String], c: Long)

  /** The stateful core: per-user type census; sentinel flushes the
    * user's cells. */
  def census(ev: Dataset[Ev]): Dataset[Out] = {
    val spark = ev.sparkSession
    import spark.implicits._
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[St, Out](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, it, state: GroupState[St]) =>
          var cells = state.getOption.map(_.cells.toList).getOrElse(Nil)
          var flush = false
          it.foreach { e =>
            if (e.sentinel) flush = true
            else {
              val i = cells.indexWhere(_.event_type == e.event_type)
              cells =
                if (i < 0) TypeCell(e.event_type, 1L) :: cells
                else cells.updated(i, cells(i).copy(c = cells(i).c + 1L))
            }
          }
          state.update(St(cells))
          if (flush) cells.iterator.map(c => Out(uid, c.event_type, c.c))
          else Iterator.empty
      }
  }

  def streamedDiversity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .select($"user_id", $"event_type", unix_micros($"ts").as("tsUs"))
    val bounds = ev.agg(min($"tsUs"), max($"tsUs")).head()
    if (bounds.isNullAt(0)) return spark.emptyDataFrame
    val cut = (bounds.getLong(0) + bounds.getLong(1)) / 2
    val sentinels = ev.select($"user_id").distinct()
      .select($"user_id", lit(null).cast("string").as("event_type"),
        lit(true).as("sentinel"))
    // null-ts rows carry no order key; route them into batch 1 (the
    // batch shape has no ts filter — every event counts)
    val flushed = StreamDedup.runStagedStream(spark, Seq(
        ev.filter($"tsUs" <= cut || $"tsUs".isNull)
          .select($"user_id", $"event_type", lit(false).as("sentinel")),
        ev.filter($"tsUs" > cut)
          .select($"user_id", $"event_type", lit(false).as("sentinel"))
          .unionByName(sentinels))) { stream =>
      census(stream.as[Ev]).toDF()
    }.getOrElse(return spark.emptyDataFrame)
    graft.operators.Telemetry.diversityAssembly(
      flushed.select($"user_id", $"event_type", $"c"))
  }
}
