package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Telemetry.streaks]] — the
  * consecutive-day activity streak maintained LIVE, without the
  * batch gaps-and-islands machinery (distinct → row_number →
  * island groupBy → best-rank, three shuffles over the day set):
  * per-user state is SEVEN integers — last day, current streak
  * (len, start), best streak (len, start), active-day and streak
  * counters — O(1) however many years a user stays active, the
  * serving-store shape an engagement dashboard keeps per user.
  * Arrivals fold in event-time order (days non-decreasing, so "new
  * day" is one comparison); a day gap closes the current streak
  * into the best-election (len desc, start asc — strictly-greater
  * update preserves the earliest start on ties because islands
  * arrive in start order). Users flush ONCE at a per-user far-future
  * barrier (the StreamSessions pattern): a streak is only final
  * when the stream ends. Shares events_streak's DuckDB oracle.
  */
object StreamStreak {

  case class Ev(user_id: Option[Long], tsUs: Long, event_id: Long)
  case class St(lastDay: Long, curLen: Long, curStart: Long,
      bestLen: Long, bestStart: Long, nDays: Long, nStreaks: Long)
  case class Out(user_id: Option[Long], n_active_days: Long,
      n_streaks: Long, best_len: Long, best_start_day: Long)

  private val usPerDay = 86400000000L

  private def close(s: St): St =
    if (s.curLen > s.bestLen) s.copy(bestLen = s.curLen, bestStart = s.curStart)
    else s

  /** The stateful core: fold non-decreasing days into the running
    * streak; sentinel (event_id = −1) closes and emits. */
  def streaks(ev: Dataset[Ev]): Dataset[Out] =
    Staged.onArrival(ev)(_.user_id, e => (e.tsUs, e.event_id))(Option.empty[St]) { (st, e) =>
      if (e.event_id == -1L)
        (st, st.map(close).map(c => Out(e.user_id, c.nDays, c.nStreaks, c.bestLen, c.bestStart)))
      else {
        val day = e.tsUs / usPerDay // post-1970 corpus: exact floor
        (Some(st match {
          case None => St(day, 1L, day, 0L, day, 1L, 1L)
          case Some(s) if day == s.lastDay + 1L =>
            s.copy(lastDay = day, curLen = s.curLen + 1L, nDays = s.nDays + 1L)
          case Some(s) if day > s.lastDay =>
            close(s).copy(lastDay = day, curLen = 1L, curStart = day,
              nDays = s.nDays + 1L, nStreaks = s.nStreaks + 1L)
          case Some(s) => s
        }), None)
      }
    }

  def streamedStreaks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"user_id", unix_micros($"ts").as("tsUs"), $"event_id")
    val flushed = Staged.run(spark, Staged.withBarrier[Ev](Staged.timeCut(ev, $"tsUs"),
        ev.select($"user_id").distinct()
          .select($"user_id", lit(Staged.FarFutureUs).as("tsUs"), lit(-1L).as("event_id")))) {
      stream => streaks(stream.as[Ev]).toDF()
    }
    // dimension-sized date conversion — same literals as the batch op
    flushed.select($"user_id", $"n_active_days", $"n_streaks", $"best_len",
      date_add(to_date(lit("1970-01-01")),
        $"best_start_day".cast("int")).as("best_start"))
  }
}
