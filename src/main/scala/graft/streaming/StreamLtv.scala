package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Telemetry, dec}

/** Streaming twin of [[graft.operators.Telemetry.ltv]] — the cohort
  * lifetime-value triangle maintained LIVE: the state is one cell per
  * (user, week) holding the week's earliest signup, its purchase
  * count and its exact DECIMAL purchase sum — bounded by the TIME
  * AXIS like stream_retention — kept by a streaming aggregation over
  * the staged events. A LATE-ARRIVING EARLIER SIGNUP re-assigns the
  * user's cohort and re-offsets every cell the user touches, so the
  * cohort (the earliest signup over the user's cells) and the
  * triangle come from the final cells; the cumulative curve is the
  * batch operator's own ([[graft.operators.Telemetry.ltvCurve]]). A
  * week whose every purchase value is NULL still counts its buyer
  * but contributes NULL revenue, exactly the batch SUM. Shares
  * events_ltv's oracle.
  *
  * Gated property: signups and purchases split across the cut must
  * meet in ONE user's cells — in particular a batch-2 signup EARLIER
  * than a batch-1 purchase's week must pull that purchase into the
  * triangle.
  */
object StreamLtv {

  /** The stateful core over events (user_id, event_type, ts, value):
    * per (user, week) the earliest signup, the purchase count and the
    * purchase sum. */
  def cells(ev: DataFrame): DataFrame = {
    val purchase = col("event_type") === "purchase"
    ev.groupBy(col("user_id"), date_trunc("week", col("ts")).as("p_week"))
      .agg(min(when(col("event_type") === "signup", col("ts"))).as("first_signup"),
        count(when(purchase, lit(1))).as("n_purchases"),
        sum(when(purchase, dec(col("value")))).as("rev"))
  }

  /** The triangle over the final [[cells]]: each user's purchase weeks
    * at or after the week of their earliest signup. A (user, week)
    * cell is one distinct buyer of its (cohort, offset). */
  def triangle(cells: DataFrame): DataFrame = {
    val cohorts = cells.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("first_signup"))).as("cohort_week"))
    Telemetry.ltvCurve(cohorts.join(cells.filter(col("n_purchases") > 0L), Seq("user_id"))
      .filter(col("p_week") >= col("cohort_week"))
      .groupBy(col("cohort_week"),
        (datediff(col("p_week"), col("cohort_week")) / 7).cast("long").as("week_offset"))
      .agg(count(lit(1)).as("n_buyers"), sum(col("rev")).as("rev_dec")))
  }

  def streamedLtv(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.sources.Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("value"))
    triangle(Staged.aggregate(spark, Staged.timeCut(ev, unix_micros(col("ts"))))(cells))
  }
}
