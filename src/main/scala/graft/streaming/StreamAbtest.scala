package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Telemetry

/** Streaming twin of [[graft.operators.Telemetry.abtest]] — the
  * Welch t experiment monitor fed LIVE: the batch operator's whole
  * read-out ([[graft.operators.Telemetry.abtestReport]]: one global
  * aggregate of exact DECIMAL power sums per arm, then the Welch-t
  * projection) runs as a streaming aggregation over the staged
  * purchases — the canonical "metrics you can merge" shape, O(1)
  * however long the experiment runs, and the t-stat of the last
  * trigger is the one at the analysis cutoff. An arm with no
  * purchases reports the batch aggregate's zero count and NULL sums.
  * Shares events_abtest's oracle: the streamed power sums must equal
  * the batch DECIMAL aggregation bit-for-bit.
  *
  * Gated property: purchases split across the cut accumulate into
  * the same arm sums — the t only matches if batch-2 arrivals folded
  * onto batch-1 sums.
  */
object StreamAbtest {

  def streamedAbtest(spark: SparkSession, dir: String): DataFrame = {
    val p = graft.sources.Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("value"), col("ts"))
    Staged.aggregate(spark, Staged.timeCut(p, unix_micros(col("ts"))))(Telemetry.abtestReport)
  }
}
