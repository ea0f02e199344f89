package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Telemetry.statusTransitions]]
  * — the SetStatus dwell-time timeline (serial_streaming.lua) run
  * INCREMENTALLY. The batch operator needs LOOKAHEAD: a transition
  * row's dwell is the gap to the NEXT event (lead), which no
  * append-mode emission can know at arrival. The twin's state makes
  * that causal: a detected transition is held PENDING (one row per
  * user, O(1) state beside the last-seen type) and emitted the
  * moment the next arrival lands — its timestamp closes the dwell.
  * A per-user far-future barrier row (StreamSessions' pattern) closes
  * each user's final pending transition with dwell 0, exactly the
  * batch COALESCE(next_us − us, 0) on the last row.
  *
  * Gated property: a transition PAIR split across the micro-batch
  * cut must come out of cross-batch state, and a pending transition
  * whose closing arrival lands in the next batch must emit with the
  * dwell measured ACROSS the cut. Shares status_transitions' DuckDB
  * oracle; the sink-side rollup is the batch operator's own
  * partial-aggregated groupBy.
  */
object StreamTransitions {

  // user_id / event_type Options: the batch window keeps the
  // NULL-user partition, and a NULL type breaks a transition pair
  // (prev <> cur is three-valued) but still occupies the lag slot
  case class Ev(user_id: Option[Long], tsUs: Long, event_id: Long,
      event_type: Option[String])
  case class Trans(user_id: Option[Long], prev_type: String,
      cur_type: String, dwell_us: Long)
  // last = type of the last REAL row (the wrapper keeps "no state"
  // and "last type was NULL" distinct — Spark encoders don't nest
  // Options); pend = detected transition waiting for the next
  // arrival's timestamp
  case class Last(t: Option[String])
  case class Pend(prev: String, cur: String, us: Long)
  case class St(last: Option[Last], pend: Option[Pend])

  /** The stateful core: every real arrival first CLOSES any pending
    * transition (dwell = its own timestamp minus the pending row's),
    * then opens one if it changes a non-null state; sentinels
    * (event_id = −1) only close, with dwell 0. */
  def transitions(ev: Dataset[Ev]): Dataset[Trans] =
    Staged.onArrival(ev)(_.user_id, e => (e.tsUs, e.event_id))(St(None, None)) { (st, e) =>
      val barrier = e.event_id == -1L
      val closed = st.pend.map(p =>
        Trans(e.user_id, p.prev, p.cur, if (barrier) 0L else e.tsUs - p.us))
      if (barrier) (st.copy(pend = None), closed)
      else (St(Some(Last(e.event_type)), for {
        lastT <- st.last.flatMap(_.t)
        curT <- e.event_type
        if lastT != curT
      } yield Pend(lastT, curT, e.tsUs)), closed)
    }

  def streamedTransitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"user_id", unix_micros($"ts").as("tsUs"), $"event_id",
        $"event_type")
    // one far-future barrier per user (NULL user included): it closes
    // each user's last pending transition
    val log = Staged.run(spark, Staged.withBarrier[Ev](Staged.timeCut(ev, $"tsUs"),
        ev.select($"user_id").distinct()
          .select($"user_id", lit(Staged.FarFutureUs).as("tsUs"), lit(-1L).as("event_id")))) {
      stream => transitions(stream.as[Ev]).toDF()
    }
    // same partial-aggregated rollup as the batch operator
    log.groupBy($"prev_type", $"cur_type")
      .agg(count(lit(1)).as("n_transitions"),
        sum($"dwell_us").as("total_dwell_us"))
  }
}
