package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Quality

/** Streaming twin of [[graft.operators.Quality.completeness]] — the
  * per-column null/blank audit run ONLINE at the ingest edge: the
  * batch operator's one global aggregate
  * ([[graft.operators.Quality.completenessCounts]], eleven counters
  * from scan-local 0/1 flags) runs as a streaming aggregation over
  * the staged events. Partial aggregation sums the flags map-side, so
  * one row per partition crosses into the single state-store key, and
  * the state is eleven longs, O(1) forever. The batch unpivot
  * ([[graft.operators.Quality.completenessAssembly]]) runs over the
  * final row. Shares dq_completeness' oracle.
  *
  * Gated property: rows split across the micro-batch cut accumulate
  * into the same counters.
  */
object StreamCompleteness {

  def streamedCompleteness(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.sources.Tables.events(spark, dir)
    Quality.completenessAssembly(Staged.aggregate(spark,
      Staged.timeCut(ev, xxhash64(col("event_id"), col("ts"))))(Quality.completenessCounts))
  }
}
