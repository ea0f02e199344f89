package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Telemetry.paths]] — the
  * event-path transition matrix run INCREMENTALLY: per-user state is
  * the single most-recent event type (O(1) however long the
  * clickstream), and each arrival emits its (from, to) bigram
  * against that state the moment it lands — the online navigation-
  * graph feed. A transition whose two halves land in different
  * micro-batches MUST come out of cross-batch state; the median-time
  * split plus the shared `events_paths` oracle make that the gated
  * property.
  *
  * Intra-batch arrival order pins to (event time, event_id) — the
  * batch lead() window's sort key — so same-µs neighbors chain
  * identically. Emission is append-safe (each bigram is final at
  * arrival); the sink-side rollup is the batch operator's own
  * partial-aggregated groupBy.
  */
object StreamPaths {

  // user_id is Option (the batch window keeps the NULL-user
  // partition); event_type is Option (a NULL type can be the FROM
  // side of a bigram — the batch filter only drops NULL to_type)
  case class Ev(user_id: Option[Long], tsUs: Long, event_id: Long,
      event_type: Option[String])
  case class Edge(user_id: Option[Long], from_type: Option[String],
      to_type: String)
  // state wrapper: Option[Option[String]] would encode Some(None)
  // and "no state" both as null — the wrapper keeps them distinct
  case class Prev(t: Option[String])

  /** The stateful core: fold each arrival against the last-seen
    * type; emit a bigram when the arrival's own type is non-null. */
  def transitions(ev: Dataset[Ev]): Dataset[Edge] =
    Staged.onArrival(ev)(_.user_id, e => (e.tsUs, e.event_id))(Option.empty[Prev]) {
      (prev, e) => (Some(Prev(e.event_type)),
        for (p <- prev; t <- e.event_type) yield Edge(e.user_id, p.t, t))
    }

  def streamedPaths(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"user_id", unix_micros($"ts").as("tsUs"), $"event_id",
        $"event_type")
    val log = Staged.run(spark, Staged.timeCut(ev, $"tsUs")) { stream =>
      transitions(stream.as[Ev]).toDF()
    }
    // same partial-aggregated rollup as the batch operator
    log.groupBy($"from_type", $"to_type")
      .agg(count(lit(1)).as("n_transitions"),
        countDistinct($"user_id").as("n_users"))
  }
}
