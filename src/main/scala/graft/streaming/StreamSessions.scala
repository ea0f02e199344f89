package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming sessionization — the reference's "wait for signal for 30
  * minutes, then shut down" (notes.org) run as an INCREMENTAL
  * stateful operator instead of a batch window: per user the state is
  * the one OPEN session (ordinal, start, end, count), each arriving
  * event either extends it or closes it (emitting the closed session
  * — append-safe, one immutable row per finished session), and a
  * session that straddles a micro-batch boundary is stitched from
  * state, never recomputed from a rescan.
  *
  * The batch-gated run ([[streamedSessions]], `stream_sessions` in
  * the oracle map) stages the events table as two micro-batches split
  * at the MEDIAN EVENT TIME — so in-flight sessions at the split must
  * continue across batch state for the output to aggregate to the
  * batch [[graft.operators.Telemetry.sessionWindows]] result — plus a
  * sentinel barrier batch (one far-future tick per user) that flushes
  * every still-open session, the same finalize trick as the relay's
  * barrier micro-batch.
  *
  * Scale posture: state is O(1) per user (one open session), sharded
  * by the same user key the batch window shuffles on; emission is
  * append-mode so any durable sink works; the sentinel batch is one
  * row per ACTIVE user, never corpus-sized.
  */
object StreamSessions {

  // user_id is Option: the batch window keeps a NULL-user partition
  // (engines agree), so the twin must shard and emit it too — a bare
  // Long encoder hard-fails on the null with NOT_NULL_ASSERT_VIOLATION
  case class Ev(user_id: Option[Long], eus: Long, event_id: Long)
  case class Open(sid: Long, start: Long, end: Long, n: Long)
  case class SessOut(user_id: Option[Long], session_id: Long, n_events: Long,
      start_us: Long, end_us: Long)

  /** The stateful core: extend-or-close per arrival. Intra-batch
    * arrival order is pinned to (event time, event_id) — the batch
    * window's sort key — so ties resolve identically. */
  def sessionize(ev: Dataset[Ev], gapUs: Long): Dataset[SessOut] = {
    val spark = ev.sparkSession
    import spark.implicits._
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[Open, SessOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, it, state: GroupState[Open]) =>
          var open = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[SessOut]
          it.toSeq.sortBy(e => (e.eus, e.event_id)).foreach { e =>
            open match {
              case Some(o) if e.eus - o.end <= gapUs =>
                open = Some(o.copy(end = e.eus, n = o.n + 1))
              case Some(o) =>
                out += SessOut(uid, o.sid, o.n, o.start, o.end)
                open = Some(Open(o.sid + 1, e.eus, e.eus, 1))
              case None =>
                open = Some(Open(1, e.eus, e.eus, 1))
            }
          }
          open.foreach(state.update)
          out.iterator
      }
  }

  /** The batch-gated run: output must equal the batch
    * session_windows result — which only holds if sessions straddling
    * the median-time split continue from cross-batch state. Sentinel
    * arrivals (event_id = -1, 3 gaps past the corpus max) close every
    * open real session; the session a sentinel itself opens never
    * emits. In-operator sanity: session ordinals per user must be
    * dense from 1 and emitted exactly once — anything else means
    * state was dropped or replayed, and the operator fails loudly
    * rather than letting the oracle diff surface it. */
  def streamedSessions(spark: SparkSession, dir: String,
      gapSeconds: Long = 1800L): DataFrame = {
    import spark.implicits._
    val gapUs = gapSeconds * 1000000L
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"user_id", unix_micros($"ts").as("eus"), $"event_id")
    val bounds = ev.agg(min($"eus"), max($"eus")).head()
    if (bounds.isNullAt(0)) return spark.emptyDataset[SessOut].toDF()
    val cut = (bounds.getLong(0) + bounds.getLong(1)) / 2
    val sentinelUs = bounds.getLong(1) + 3L * gapUs
    val sentinels = ev.select($"user_id").distinct()
      .select($"user_id", lit(sentinelUs).as("eus"), lit(-1L).as("event_id"))
    val log = StreamDedup.runStagedStream(spark,
        Seq(ev.filter($"eus" <= cut), ev.filter($"eus" > cut), sentinels)) { stream =>
      sessionize(stream.as[Ev], gapUs).toDF()
    }.getOrElse(return spark.emptyDataset[SessOut].toDF())
    val badUsers = log.groupBy($"user_id")
      .agg(count(lit(1)).as("n"), countDistinct($"session_id").as("nd"),
        min($"session_id").as("mn"), max($"session_id").as("mx"))
      .filter($"n" =!= $"nd" || $"mn" =!= 1L || $"mx" =!= $"n").count()
    if (badUsers > 0)
      throw new IllegalStateException(
        s"streamed sessions: $badUsers users with replayed or dropped " +
          "session ordinals (cross-batch state lost)")
    log.select($"user_id", $"session_id", $"n_events",
      timestamp_micros($"start_us").as("start_ts"),
      timestamp_micros($"end_us").as("end_ts"))
  }
}
