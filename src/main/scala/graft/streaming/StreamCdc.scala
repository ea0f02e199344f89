package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Changelog

/** Streaming changelog materialization — [[graft.operators.Changelog.cdcApply]]
  * run INCREMENTALLY: the CDC topic arrives as an unbounded stream
  * and the compacted table maintains itself in per-key state instead
  * of being re-derived by a batch scan of the whole topic. This is
  * the standing shape of every Debezium-topic → serving-table
  * pipeline: per key the state is the batch operator's own election
  * ([[graft.operators.Changelog.cdcCensus]]) — ONE candidate row
  * (`max_by` the latest op by event-time µs) plus two counters, O(1)
  * however long the key's history — kept by a streaming aggregation
  * over the staged log. Tombstones ('error' ops) stay IN state rather
  * than deleting it: a late-arriving earlier upsert must still lose
  * to the tombstone, which a delete-on-tombstone state model gets
  * wrong; keys whose final op is a tombstone drop in the batch
  * operator's own post-pass.
  *
  * Shares `q_cdc_apply`'s oracle, so batch-2 operations must fold
  * into batch-1 election state for the hash to match. Scale posture:
  * state is one row per key sharded on the same key the batch
  * groupBy shuffles on.
  */
object StreamCdc {

  /** The batch-gated run: shares q_cdc_apply's oracle. */
  def streamedCdc(spark: SparkSession, dir: String): DataFrame = {
    val log = graft.sources.Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("value"), col("event_type"))
    Changelog.cdcAssembly(
      Staged.aggregate(spark, Staged.timeCut(log, unix_micros(col("ts"))))(Changelog.cdcCensus))
  }
}
