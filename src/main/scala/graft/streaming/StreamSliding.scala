package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Streaming twin of [[graft.operators.Telemetry.sliding]] — the
  * DAU/rolling-rate dashboard (events + DISTINCT users per trailing
  * hour, refreshed every 15 min) run as a LIVE sliding-window
  * aggregation. Two things make the shape interesting online:
  *
  *   - Sliding windows: `window(ts, "1 hour", "15 minutes")` fans
  *     each event into window/slide = 4 open slots inside the
  *     streaming aggregation — the same bounded ×4 Expand as batch,
  *     with state per (open slot, user) bounded by the watermark.
  *   - Distinct counting: streaming aggregations cannot evaluate
  *     COUNT(DISTINCT), so the twin runs the canonical TWO-LEVEL
  *     shape — the stateful pass reduces to (slot, user) cells
  *     (append mode: each cell emits exactly once, when the
  *     watermark closes its slot), and the distinct count is a plain
  *     COUNT over cells in the dimension-sized sink rollup. The cell
  *     census is the mergeable unit; the distinct count never is.
  *
  * Cent-exact sums: per-cell DECIMAL sums accumulate in state and
  * the rollup re-sums them, so the final cast reproduces the batch
  * `dsum` bit-for-bit (decimal addition is exact in any grouping).
  * NULL users aggregate in their own cell — counted in n_events and
  * sum_value but excluded from n_users, exactly the batch
  * count(*)/countDistinct pair.
  *
  * Gated property: slots straddling the micro-batch cut carry window
  * state across it. The watermark markers carry user_id =
  * Long.MinValue and filter out null-safely. Shares events_sliding's
  * oracle.
  */
object StreamSliding {

  def streamedSliding(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"ts", $"user_id", $"value")
    def marker(us: Long): DataFrame =
      spark.range(1).select(timestamp_micros(lit(us)).as("ts"),
        lit(Long.MinValue).as("user_id"), lit(0.0d).as("value"))
    val cells = Staged.run(spark,
        Staged.closingWindows(Staged.timeCut(ev, unix_micros($"ts")), marker)) { stream =>
      stream
        .withWatermark("ts", "0 seconds")
        .groupBy(window($"ts", "1 hour", "15 minutes").as("w"), $"user_id")
        .agg(count(lit(1)).as("n"),
          sum(graft.operators.dec($"value")).as("sum_dec"))
    }
    cells.filter(!($"user_id" <=> Long.MinValue))
      .groupBy($"w.start".as("window_start"))
      .agg(sum($"n").as("n_events"),
        count(when($"user_id".isNotNull, lit(1))).as("n_users"),
        sum($"sum_dec").cast(DoubleType).as("sum_value"))
  }
}
