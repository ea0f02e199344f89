package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Telemetry.retention]] — the
  * cohort retention matrix maintained INCREMENTALLY: per-user state
  * is the running earliest signup week plus the set of distinct
  * active weeks — bounded by the TIME AXIS (weeks since launch), not
  * the event stream, the same bound every retention dashboard's
  * serving store carries. The (cohort, offset) matrix needs each
  * user's FULL week set against their FINAL cohort week (a signup
  * arriving late can move the cohort earlier and re-offset every
  * week), so users emit once at a sentinel barrier — the
  * [[StreamAnomaly]] two-phase discipline — and the distinct-user
  * rollup runs over the flushed (cohort, offset, user) cells exactly
  * as the batch operator aggregates its join. Cross-batch: a user
  * whose signup lands in batch 1 and activity in batch 2 must
  * assemble from state; shares `events_retention`'s oracle.
  */
object StreamRetention {

  case class Ev(user_id: Long, weekUs: Long, isSignup: Boolean, sentinel: Boolean)
  case class RState(signupWeekUs: Option[Long], weeks: Seq[Long])
  case class Cell(cohort_us: Long, week_offset: Long, user_id: Long)

  /** The stateful core: fold signup/activity weeks per user, emit the
    * user's retention cells once at the sentinel. */
  def cells(ev: Dataset[Ev]): Dataset[Cell] =
    Staged.atBarrier(ev)(_.user_id, _.sentinel)(RState(None, Nil)) { (s, e) =>
      RState(
        if (e.isSignup && !s.signupWeekUs.exists(_ <= e.weekUs)) Some(e.weekUs)
        else s.signupWeekUs,
        if (s.weeks.contains(e.weekUs)) s.weeks else s.weeks :+ e.weekUs)
    } { (uid, s) =>
      s.signupWeekUs.toSeq.flatMap(c => s.weeks.filter(_ >= c).map { w =>
        Cell(c, (w - c) / (7L * 86400000000L), uid)
      })
    }

  def streamedRetention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull && $"user_id".isNotNull)
      .select($"user_id",
        unix_micros(date_trunc("week", $"ts")).as("weekUs"),
        // NULL event_type is "not a signup", not a NULL boolean — the
        // bare comparison NPEs the non-nullable encoder field
        coalesce($"event_type" === "signup", lit(false)).as("isSignup"),
        unix_micros($"ts").as("tsUs"))
    val log = Staged.run(spark, Staged.withBarrier[Ev](Staged.timeCut(ev, $"tsUs"),
        ev.select($"user_id").distinct())) { stream =>
      cells(stream.as[Ev]).toDF()
    }
    // the batch operator's own rollup over the flushed cells
    log.groupBy(timestamp_micros($"cohort_us").as("cohort_week"),
        $"week_offset")
      .agg(countDistinct($"user_id").as("n_active"))
  }
}
