package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Telemetry.runningDistinct]] —
  * the DAU / new-user / cumulative-distinct dashboard fed LIVE:
  * per-user state is the set of days already seen (bounded by the
  * TIME AXIS, not the stream — the stream_retention bound), and an
  * arrival emits one (user, day, is_first) row only the FIRST time
  * its user touches that day. Both facts are final at arrival —
  * a day once seen never re-emits, and is_first is exact because
  * days fold in event-time order — so emission is append-safe with
  * NO sentinel; the day census (COUNT per day, first-seen count,
  * running cumulative) is the batch operator's own day-dimension
  * assembly over the sink. Shares q_running_distinct's oracle.
  *
  * Gated property: a user active on both sides of the cut must NOT
  * recount as new in batch 2 (cross-batch day-set state), and the
  * cumulative series must thread the cut.
  */
object StreamActive {

  case class Ev(user_id: Option[Long], tsUs: Long)
  case class Hit(user_id: Option[Long], day: Long, is_first: Boolean)

  private val usPerDay = 86400000000L

  /** The stateful core: emit each user-day once, flagging the
    * user's first-ever day. */
  def hits(ev: Dataset[Ev]): Dataset[Hit] =
    Staged.onArrival(ev)(_.user_id, _.tsUs)(Set.empty[Long]) { (seen, e) =>
      val day = e.tsUs / usPerDay // post-1970 corpus: exact floor
      if (seen.contains(day)) (seen, None)
      else (seen + day, Some(Hit(e.user_id, day, seen.isEmpty)))
    }

  def streamedActive(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"user_id", unix_micros($"ts").as("tsUs"))
    val log = Staged.run(spark, Staged.timeCut(ev, $"tsUs")) { stream =>
      hits(stream.as[Ev]).toDF()
    }
    // the batch operator's own day-dimension assembly
    val byDay = org.apache.spark.sql.expressions.Window.orderBy($"day".asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    log.groupBy(date_add(to_date(lit("1970-01-01")), $"day".cast("int")).as("day"))
      .agg(count(lit(1)).as("n_active_users"),
        sum(when($"is_first", 1L).otherwise(0L)).as("n_new_users"))
      .withColumn("cum_distinct_users", sum($"n_new_users").over(byDay))
      .select($"day", $"n_active_users", $"n_new_users", $"cum_distinct_users")
  }
}
