package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Telemetry

/** Streaming twin of [[graft.operators.Telemetry.retention]] — the
  * cohort retention matrix maintained INCREMENTALLY: the state is one
  * cell per (user, active week) holding the week's earliest signup —
  * bounded by the TIME AXIS (weeks since launch), not the event
  * stream, the same bound every retention dashboard's serving store
  * carries — kept by a streaming aggregation over the staged events.
  * The (cohort, offset) matrix needs each user's FULL week set
  * against their FINAL cohort week (a signup arriving late can move
  * the cohort earlier and re-offset every week), so the cohort (the
  * earliest signup over the user's cells) and the distinct active
  * weeks both come from the final cells, and the matrix is the batch
  * operator's own ([[graft.operators.Telemetry.retentionMatrix]]).
  * Cross-batch: a user whose signup lands in batch 1 and activity in
  * batch 2 must assemble from state; shares `events_retention`'s
  * oracle.
  */
object StreamRetention {

  def streamedRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.sources.Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val cells = Staged.aggregate(spark, Staged.timeCut(ev, unix_micros(col("ts")))) { stream =>
      stream.groupBy(col("user_id"), date_trunc("week", col("ts")).as("act_week"))
        .agg(min(when(col("event_type") === "signup", col("ts"))).as("first_signup"))
    }
    val cohorts = cells.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("first_signup"))).as("cohort_week"))
    Telemetry.retentionMatrix(cohorts, cells.select(col("user_id"), col("act_week")))
  }
}
