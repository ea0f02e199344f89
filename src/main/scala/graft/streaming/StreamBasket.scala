package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of [[graft.operators.Telemetry.basket]] — the
  * event-type co-occurrence/lift miner fed LIVE: the stateful pass is
  * exactly the DISTINCT (user, type) reduction the batch operator
  * runs first, as per-user state (the set of types already seen —
  * bounded by the TYPE VOCABULARY, a constant) emitting each cell
  * exactly ONCE, the first time its user exhibits that type. Cells
  * are final at arrival (a set membership never retracts), so
  * emission is append-safe with NO sentinel; marginals, the pair
  * self-join and lift are the batch operator's own assembly
  * ([[graft.operators.Telemetry.basketAssembly]]) over the sink —
  * at most #users × #types cells however large the raw stream.
  * Shares events_basket's oracle.
  *
  * Gated property: a (user, type) cell hit on both sides of the cut
  * must emit exactly once (cross-batch membership state), or pair
  * counts double.
  */
object StreamBasket {

  case class Ev(user_id: Option[Long], event_type: Option[String])
  case class Seen(types: Seq[Option[String]])
  case class Cell(user_id: Option[Long], event_type: Option[String])

  /** The stateful core: per-user type-set membership; emit each new
    * cell once. */
  def cells(ev: Dataset[Ev]): Dataset[Cell] = {
    val spark = ev.sparkSession
    import spark.implicits._
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[Seen, Cell](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, it, state: GroupState[Seen]) =>
          var seen = state.getOption.map(_.types.toSet)
            .getOrElse(Set.empty[Option[String]])
          val out = scala.collection.mutable.ArrayBuffer.empty[Cell]
          it.foreach { e =>
            if (!seen.contains(e.event_type)) {
              out += Cell(uid, e.event_type)
              seen += e.event_type
            }
          }
          state.update(Seen(seen.toSeq))
          out.iterator
      }
  }

  def streamedBasket(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .select($"user_id", $"event_type",
        unix_micros($"ts").as("tsUs"))
    val bounds = ev.agg(min($"tsUs"), max($"tsUs")).head()
    if (bounds.isNullAt(0)) return spark.emptyDataFrame
    val cut = (bounds.getLong(0) + bounds.getLong(1)) / 2
    // null-ts rows carry no order key; route them into batch 1 (the
    // batch shape has no ts filter — a cell is a cell)
    val ut = StreamDedup.runStagedStream(spark, Seq(
        ev.filter($"tsUs" <= cut || $"tsUs".isNull).drop("tsUs"),
        ev.filter($"tsUs" > cut).drop("tsUs"))) { stream =>
      cells(stream.as[Ev]).toDF()
    }.getOrElse(return spark.emptyDataFrame)
    // the batch operator's own assembly over the distinct cell sink;
    // localCheckpoint: the assembly self-joins the cells three ways
    graft.operators.Telemetry.basketAssembly(
      ut.select($"user_id", $"event_type").localCheckpoint())
  }
}
