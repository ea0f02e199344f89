package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Telemetry.markov]] — the
  * behavior transition matrix fed LIVE: per-user state is the single
  * most-recent event type (O(1) however long the clickstream), every
  * arrival whose predecessor's type is non-null emits its (from, to)
  * bigram at landing — including self-loops and NULL-to rows, the
  * two places this differs from [[StreamPaths]]' navigation edges —
  * and the matrix assembly (row totals, probabilities, per-from
  * rank) runs as a types²-sized batch view over the append sink
  * ([[graft.operators.Telemetry.markovAssembly]], the SAME assembly
  * the batch operator uses, so the twin shares events_markov's
  * oracle).
  *
  * Gated property: a bigram whose two halves land in different
  * micro-batches must come out of cross-batch state — the median-
  * time split makes that unavoidable for every user active on both
  * sides of the cut.
  */
object StreamMarkov {

  case class Ev(user_id: Option[Long], tsUs: Long, event_id: Long,
      event_type: Option[String])
  // to_state is Option: the batch lag() keeps NULL-to bigrams (only
  // a NULL FROM is filtered); the Prev wrapper keeps "no state" and
  // "last type was NULL" distinct
  case class Bigram(user_id: Option[Long], from_state: String,
      to_state: Option[String])
  case class Prev(t: Option[String])

  /** The stateful core: fold each arrival against the last-seen
    * type; emit a bigram when the PREDECESSOR's type is non-null. */
  def bigrams(ev: Dataset[Ev]): Dataset[Bigram] =
    Staged.onArrival(ev)(_.user_id, e => (e.tsUs, e.event_id))(Option.empty[Prev]) {
      (prev, e) => (Some(Prev(e.event_type)),
        prev.flatMap(_.t).map(f => Bigram(e.user_id, f, e.event_type)))
    }

  def streamedMarkov(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"user_id", unix_micros($"ts").as("tsUs"), $"event_id",
        $"event_type")
    val log = Staged.run(spark, Staged.timeCut(ev, $"tsUs")) { stream =>
      bigrams(stream.as[Ev]).toDF()
    }
    graft.operators.Telemetry.markovAssembly(
      log.groupBy($"from_state", $"to_state")
        .agg(count(lit(1)).as("n_transitions")))
  }
}
