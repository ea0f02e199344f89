package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Telemetry.forecast]] — the
  * seasonal-naive backtest fed LIVE: the stateful pass is the SAME
  * per-type day→count census as [[StreamVolume]] (state bounded by
  * the TIME AXIS, counters fold order-free, reused verbatim — one
  * census state serves every daily-volume consumer, exactly like the
  * batch side shares one `daily` frame), flushed at the snapshot
  * barrier because the day−7 alignment joins the census against
  * itself. The calendar self-join and the |actual − forecast| error
  * are the batch operator's own assembly
  * ([[graft.operators.Telemetry.forecastAssembly]]) — ∝ occupied
  * days. Shares ts_forecast's oracle.
  *
  * Gated property: a day's count split across the micro-batch cut
  * accumulates into one census cell, or both that day's actual AND
  * the day+7 forecast row corrupt.
  */
object StreamForecast {

  def streamedForecast(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"event_type",
        unix_micros(date_trunc("day", $"ts")).as("dayUs"),
        unix_micros($"ts").as("tsUs"))
    val flushed = Staged.run(spark, Staged.withBarrier[StreamVolume.Ev](
        Staged.timeCut(ev, $"tsUs"), ev.select($"event_type").distinct())) { stream =>
      StreamVolume.census(stream.as[StreamVolume.Ev]).toDF()
    }
    // localCheckpoint: the assembly self-joins the census (actual ×
    // day−7 prior both derive from it) over one sink scan
    graft.operators.Telemetry.forecastAssembly(
      flushed.select($"event_type", $"dayUs".as("day_us"),
        $"n_events").localCheckpoint())
  }
}
