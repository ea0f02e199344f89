package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

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
  case class Cell(user_id: Option[Long], event_type: Option[String])

  /** The stateful core: per-user type-set membership; emit each new
    * cell once (order-free). */
  def cells(ev: Dataset[Ev]): Dataset[Cell] =
    Staged.onArrival(ev)(_.user_id, _ => 0)(Set.empty[Option[String]]) { (seen, e) =>
      if (seen.contains(e.event_type)) (seen, None)
      else (seen + e.event_type, Some(Cell(e.user_id, e.event_type)))
    }

  def streamedBasket(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .select($"user_id", $"event_type",
        unix_micros($"ts").as("tsUs"))
    val ut = Staged.run(spark, Staged.timeCut(ev, $"tsUs").map(_.drop("tsUs"))) { stream =>
      cells(stream.as[Ev]).toDF()
    }
    // the batch operator's own assembly over the distinct cell sink;
    // localCheckpoint: the assembly self-joins the cells three ways
    graft.operators.Telemetry.basketAssembly(
      ut.select($"user_id", $"event_type").localCheckpoint())
  }
}
