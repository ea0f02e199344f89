package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Telemetry.ltv]] — the cohort
  * lifetime-value triangle maintained LIVE: per-user state is the
  * earliest signup seen (raw µs + its Monday-truncated week, both
  * precomputed by the engine's own date_trunc so the twin never
  * re-implements calendar math) and the per-week purchase-cent sums
  * — bounded by the TIME AXIS like stream_retention, because a
  * LATE-ARRIVING EARLIER SIGNUP re-assigns the user's cohort and
  * re-offsets every cell the user touches: no cell is final before
  * the snapshot, so users flush once at the per-user barrier. The
  * flush emits one row per (user, purchase week) at or
  * after the cohort week; the cells assembly (distinct buyers,
  * DECIMAL revenue, running cumulative) is the batch operator's own
  * cohort-dimension rollup over the sink. A week whose every
  * purchase value is NULL still counts its buyer but contributes
  * NULL revenue, exactly the batch SUM. Shares events_ltv's oracle.
  *
  * Gated property: signups and purchases split across the cut must
  * meet in ONE user state — in particular a batch-2 signup EARLIER
  * than a batch-1 purchase's week must pull that purchase into the
  * triangle.
  */
object StreamLtv {

  case class Ev(user_id: Long, tsUs: Long, weekUs: Long,
      isSignup: Boolean, cents: Option[Long], sentinel: Boolean)
  case class WeekCell(weekUs: Long, cents: Long, nNonNull: Long)
  case class St(minRawUs: Option[Long], minWeekUs: Option[Long],
      weeks: Seq[WeekCell])
  case class Cell(user_id: Long, cohort_week_us: Long, p_week_us: Long,
      cents: Option[Long])

  /** The stateful core: earliest-signup election + per-week cent
    * folds; sentinel flushes the user's triangle slice. */
  def cells(ev: Dataset[Ev]): Dataset[Cell] =
    Staged.atBarrier(ev)(_.user_id, _.sentinel)(St(None, None, Nil)) { (st, e) =>
      if (e.isSignup) {
        if (st.minRawUs.forall(e.tsUs < _))
          st.copy(minRawUs = Some(e.tsUs), minWeekUs = Some(e.weekUs))
        else st
      } else {
        val i = st.weeks.indexWhere(_.weekUs == e.weekUs)
        val nn = if (e.cents.isDefined) 1L else 0L
        if (i < 0) st.copy(weeks = st.weeks :+ WeekCell(e.weekUs, e.cents.getOrElse(0L), nn))
        else {
          val w = st.weeks(i)
          st.copy(weeks = st.weeks.updated(i,
            w.copy(cents = Math.addExact(w.cents, e.cents.getOrElse(0L)),
              nNonNull = w.nNonNull + nn)))
        }
      }
    } { (uid, st) =>
      st.minWeekUs.toSeq.flatMap(cw =>
        st.weeks.filter(_.weekUs >= cw).map(w =>
          Cell(uid, cw, w.weekUs, if (w.nNonNull > 0L) Some(w.cents) else None)))
    }

  def streamedLtv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // null users never survive the batch equi-join; null-ts rows
    // contribute nothing (MIN skips, purchases filter) — drop both
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"user_id".isNotNull && $"ts".isNotNull &&
        $"event_type".isin("signup", "purchase"))
      .select($"user_id", unix_micros($"ts").as("tsUs"),
        unix_micros(date_trunc("week", $"ts")).as("weekUs"),
        ($"event_type" === "signup").as("isSignup"),
        when($"event_type" === "purchase",
          (graft.operators.dec($"value") * 100).cast("long")).as("cents"))
    val flushed = Staged.run(spark, Staged.withBarrier[Ev](Staged.timeCut(ev, $"tsUs"),
        ev.select($"user_id").distinct())) { stream =>
      cells(stream.as[Ev]).toDF()
    }
    // the batch operator's own cohort-dimension assembly
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"cohort_week").orderBy($"week_offset")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    flushed
      .groupBy(timestamp_micros($"cohort_week_us").as("cohort_week"),
        (($"p_week_us" - $"cohort_week_us") / (7L * 86400000000L))
          .cast("long").as("week_offset"))
      .agg(count(lit(1)).as("n_buyers"),
        (sum($"cents").cast("decimal(38,0)") / 100)
          .cast("decimal(28,2)").as("rev_dec"))
      .withColumn("cum_dec", sum($"rev_dec").over(w))
      .select($"cohort_week", $"week_offset", $"n_buyers",
        $"rev_dec".cast("double").as("revenue"),
        $"cum_dec".cast("double").as("cum_revenue"))
  }
}
