package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

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
  case class Seen(days: Seq[Long])
  case class Hit(user_id: Option[Long], day: Long, is_first: Boolean)

  private val usPerDay = 86400000000L

  /** The stateful core: emit each user-day once, flagging the
    * user's first-ever day. */
  def hits(ev: Dataset[Ev]): Dataset[Hit] = {
    val spark = ev.sparkSession
    import spark.implicits._
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[Seen, Hit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, it, state: GroupState[Seen]) =>
          var seen = state.getOption.map(_.days.toSet).getOrElse(Set.empty[Long])
          val out = scala.collection.mutable.ArrayBuffer.empty[Hit]
          it.toSeq.sortBy(_.tsUs).foreach { e =>
            val day = e.tsUs / usPerDay // post-1970 corpus: exact floor
            if (!seen.contains(day)) {
              out += Hit(uid, day, seen.isEmpty)
              seen += day
            }
          }
          state.update(Seen(seen.toSeq))
          out.iterator
      }
  }

  def streamedActive(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"user_id", unix_micros($"ts").as("tsUs"))
    val bounds = ev.agg(min($"tsUs"), max($"tsUs")).head()
    if (bounds.isNullAt(0)) return spark.emptyDataFrame
    val cut = (bounds.getLong(0) + bounds.getLong(1)) / 2
    val log = StreamDedup.runStagedStream(spark,
        Seq(ev.filter($"tsUs" <= cut), ev.filter($"tsUs" > cut))) { stream =>
      hits(stream.as[Ev]).toDF()
    }.getOrElse(return spark.emptyDataFrame)
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
