package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

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
  def bigrams(ev: Dataset[Ev]): Dataset[Bigram] = {
    val spark = ev.sparkSession
    import spark.implicits._
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[Prev, Bigram](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, it, state: GroupState[Prev]) =>
          var prev: Option[Prev] = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[Bigram]
          it.toSeq.sortBy(e => (e.tsUs, e.event_id)).foreach { e =>
            prev.flatMap(_.t).foreach(f => out += Bigram(uid, f, e.event_type))
            prev = Some(Prev(e.event_type))
          }
          prev.foreach(state.update)
          out.iterator
      }
  }

  def streamedMarkov(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"user_id", unix_micros($"ts").as("tsUs"), $"event_id",
        $"event_type")
    val bounds = ev.agg(min($"tsUs"), max($"tsUs")).head()
    if (bounds.isNullAt(0)) return spark.emptyDataFrame
    val cut = (bounds.getLong(0) + bounds.getLong(1)) / 2
    val log = StreamDedup.runStagedStream(spark,
        Seq(ev.filter($"tsUs" <= cut), ev.filter($"tsUs" > cut))) { stream =>
      bigrams(stream.as[Ev]).toDF()
    }.getOrElse(return spark.emptyDataFrame)
    graft.operators.Telemetry.markovAssembly(
      log.groupBy($"from_state", $"to_state")
        .agg(count(lit(1)).as("n_transitions")))
  }
}
