package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming sessionization — the reference's "wait for signal for 30
  * minutes, then shut down" (notes.org) run as an INCREMENTAL
  * stateful operator instead of a batch window: per user the state is
  * the one OPEN session (ordinal, start, end, count), each arriving
  * event either extends it or closes it (emitting the closed session
  * — append-safe, one immutable row per finished session), and a
  * session that straddles a micro-batch boundary is stitched from
  * state, never recomputed from a rescan.
  *
  * Gated property ([[streamedSessions]], `stream_sessions` in the
  * oracle map): in-flight sessions at the micro-batch cut must
  * continue across batch state for the output to aggregate to the
  * batch [[graft.operators.Telemetry.sessionWindows]] result. A
  * barrier (one far-future tick per user) flushes every still-open
  * session, the same finalize trick as the relay's barrier
  * micro-batch.
  *
  * Scale posture: state is O(1) per user (one open session), sharded
  * by the same user key the batch window shuffles on; emission is
  * append-mode so any durable sink works; the barrier is one row per
  * ACTIVE user, never corpus-sized.
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
  def sessionize(ev: Dataset[Ev], gapUs: Long): Dataset[SessOut] =
    Staged.onArrival(ev)(_.user_id, e => (e.eus, e.event_id))(Option.empty[Open]) {
      (open, e) => open match {
        case Some(o) if e.eus - o.end <= gapUs => (Some(o.copy(end = e.eus, n = o.n + 1)), None)
        case Some(o) => (Some(Open(o.sid + 1, e.eus, e.eus, 1)),
          Some(SessOut(e.user_id, o.sid, o.n, o.start, o.end)))
        case None => (Some(Open(1, e.eus, e.eus, 1)), None)
      }
    }

  /** The batch-gated run: output must equal the batch
    * session_windows result. Barrier arrivals (event_id = -1, far
    * future) close every open real session; the session a barrier
    * itself opens never emits. In-operator sanity: session ordinals
    * per user must be dense from 1 and emitted exactly once —
    * anything else means state was dropped or replayed, and the
    * operator fails loudly rather than letting the oracle diff
    * surface it. */
  def streamedSessions(spark: SparkSession, dir: String,
      gapSeconds: Long = 1800L): DataFrame = {
    import spark.implicits._
    val gapUs = gapSeconds * 1000000L
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"user_id", unix_micros($"ts").as("eus"), $"event_id")
    val log = Staged.run(spark, Staged.withBarrier[Ev](Staged.timeCut(ev, $"eus"),
        ev.select($"user_id").distinct()
          .select($"user_id", lit(Staged.FarFutureUs).as("eus"), lit(-1L).as("event_id")))) {
      stream => sessionize(stream.as[Ev], gapUs).toDF()
    }
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
