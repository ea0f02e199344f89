package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.plans.Sketch

/** STREAMING distinct-count sketching (`stream_distinct`) — the
  * cardinality question every ingest dashboard asks ("distinct users
  * per event type so far") answered ONLINE with bounded state: exact
  * streaming distinct needs the whole id set per key (unbounded),
  * so per-type state is a k-min-values sketch — the k smallest
  * DISTINCT user-id hashes, O(k) longs per type however long the
  * stream runs, kept by a streaming aggregation over the
  * q_sketch_* aggregate ([[graft.plans.Sketch.kMinValues]]). The
  * k-min set of a SET is fold-order-independent, so arrival order,
  * micro-batch boundaries, and shuffle nondeterminism cannot change
  * the final sketch, and the estimate ((k−1)·P / kth-min, the KMV
  * estimator of q_sketch_distinct) is DETERMINISTIC — the DuckDB
  * oracle replays it exactly, no tolerance band. Sketches straddling
  * the staged median-time cut must fold batch-2 hashes into batch-1
  * sketch state.
  */
object StreamDistinct {

  val K = 64

  /** The stateful core over (event_type, h): the per-type k-min
    * sketch `hs`. */
  def census(ev: DataFrame): DataFrame =
    ev.groupBy(col("event_type")).agg(Sketch.kMinValues(col("h"), K).as("hs"))

  def streamedDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.HashFns
    // identified members only (the q_sketch_setops null contract)
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"user_id".isNotNull && $"event_type".isNotNull && $"ts".isNotNull)
      .select($"event_type",
        HashFns.polyHash($"user_id".cast("string")).as("h"),
        unix_micros($"ts").as("tsUs"))
    Staged.aggregate(spark, Staged.timeCut(ev, $"tsUs"))(census).select($"event_type",
      size($"hs").cast(LongType).as("n_sketch"),
      when(size($"hs") < K, size($"hs").cast(DoubleType))
        .otherwise(lit((K - 1).toDouble) * lit(HashFns.P.toDouble) /
          element_at($"hs", K).cast(DoubleType))
        .as("est_distinct"))
  }
}
