package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

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
  * arrive in start order). Users flush ONCE at a per-user sentinel
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

  /** The stateful core: fold non-decreasing days into the running
    * streak; sentinel (event_id = −1) closes and emits. */
  def streaks(ev: Dataset[Ev]): Dataset[Out] = {
    val spark = ev.sparkSession
    import spark.implicits._
    def close(s: St): St =
      if (s.curLen > s.bestLen) s.copy(bestLen = s.curLen, bestStart = s.curStart)
      else s
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[St, Out](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, it, state: GroupState[St]) =>
          var st = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[Out]
          it.toSeq.sortBy(e => (e.tsUs, e.event_id)).foreach { e =>
            if (e.event_id == -1L) {
              if (st != null) {
                val c = close(st)
                out += Out(uid, c.nDays, c.nStreaks, c.bestLen, c.bestStart)
              }
            } else {
              val day = e.tsUs / usPerDay // post-1970 corpus: exact floor
              if (st == null)
                st = St(day, 1L, day, 0L, day, 1L, 1L)
              else if (day > st.lastDay) {
                st =
                  if (day == st.lastDay + 1L)
                    st.copy(lastDay = day, curLen = st.curLen + 1L,
                      nDays = st.nDays + 1L)
                  else {
                    val c = close(st)
                    c.copy(lastDay = day, curLen = 1L, curStart = day,
                      nDays = c.nDays + 1L, nStreaks = c.nStreaks + 1L)
                  }
              }
            }
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  def streamedStreaks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"user_id", unix_micros($"ts").as("tsUs"), $"event_id")
    val bounds = ev.agg(min($"tsUs"), max($"tsUs")).head()
    if (bounds.isNullAt(0)) return spark.emptyDataFrame
    val cut = (bounds.getLong(0) + bounds.getLong(1)) / 2
    val sentinels = ev.select($"user_id").distinct()
      .select($"user_id", lit(bounds.getLong(1) + usPerDay).as("tsUs"),
        lit(-1L).as("event_id"))
    val flushed = StreamDedup.runStagedStream(spark,
        Seq(ev.filter($"tsUs" <= cut), ev.filter($"tsUs" > cut), sentinels)) { stream =>
      streaks(stream.as[Ev]).toDF()
    }.getOrElse(return spark.emptyDataFrame)
    // dimension-sized date conversion — same literals as the batch op
    flushed.select($"user_id", $"n_active_days", $"n_streaks", $"best_len",
      date_add(to_date(lit("1970-01-01")),
        $"best_start_day".cast("int")).as("best_start"))
  }
}
