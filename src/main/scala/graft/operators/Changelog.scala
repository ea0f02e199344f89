package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.LongType

import graft.sources.Tables

/** State-from-log operators: a mutable table reconstructed from an
  * immutable event log. `cdcApply` is changelog compaction (the
  * Debezium-topic → table materialization every CDC-fed lakehouse
  * runs); `scd2` is the slowly-changing-dimension type-2 history
  * build (attribute timeline → validity intervals).
  *
  * The events table is read as a changelog: `user_id` is the primary
  * key, each event is an operation on that key ordered by event
  * time, and `error` events are tombstones (DELETE); everything else
  * upserts `value`.
  */
object Changelog {

  /** Changelog compaction: latest-operation-wins per key, tombstone
    * drops the key (`q_cdc_apply`).
    *
    * Scale shape: latest-wins is `max_by` over the event-time order
    * key, NOT a `row_number` window — `max_by` is an ordinary
    * aggregate, so it partial-aggregates map-side (each input split
    * forwards ONE candidate row per key it saw) and never sorts.
    * A window formulation shuffles and sorts the full log per key;
    * this shuffles at most (#keys × #splits) candidate rows no
    * matter how long the log is — the difference between compacting
    * a 100 TB topic and sorting one. The order key is exact integer
    * µs (`unix_micros`); (user_id, ts) is unique in this corpus, so
    * the election is tie-free and oracle-replayable. */
  def cdcApply(spark: SparkSession, dir: String): DataFrame =
    cdcAssembly(cdcCensus(Tables.events(spark, dir)))

  /** The per-key election of [[cdcApply]] over events `ev` (user_id,
    * ts, value, event_type): op counts and the latest op, shared with
    * the streaming twin (StreamCdc). */
  def cdcCensus(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    ev.select($"user_id", $"ts", $"value",
        when($"event_type" === "error", lit("D")).otherwise(lit("U")).as("op"))
      .groupBy($"user_id")
      .agg(
        count(lit(1)).as("n_ops"),
        sum(when($"op" === "D", 1L).otherwise(0L)).as("n_deletes"),
        max_by(struct($"op", $"value", $"ts"), unix_micros($"ts")).as("last"))
  }

  /** The post-census assembly of [[cdcApply]], shared with the
    * streaming twin: a key whose latest op is a tombstone drops. */
  def cdcAssembly(census: DataFrame): DataFrame = {
    import census.sparkSession.implicits._
    census.filter($"last.op" =!= "D")
      .select($"user_id", $"last.value".as("value"),
        $"last.ts".as("updated_at"), $"n_ops", $"n_deletes")
  }

  /** SCD type-2 history: each key's `event_type` timeline collapsed
    * to validity intervals — a row per VALUE CHANGE with
    * [valid_from, valid_to) bounds, a version counter, and the
    * open-interval current flag (`q_scd2`).
    *
    * Shape: one shuffle on the key; both windows (change detection
    * via `lag`, interval close via `lead`) share the same
    * partitioning and sort order, so Catalyst runs them in a single
    * Window stage over one sort. The per-key sort is the honest cost
    * of SCD2 — order within key is the semantics — but the second
    * window runs over CHANGE rows only (post-filter), which for a
    * slowly-changing attribute is a tiny fraction of the log. */
  def scd2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byTime = Window.partitionBy($"user_id").orderBy($"ts")
    val changes = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_type")
      .withColumn("prev", lag($"event_type", 1).over(byTime))
      .filter($"prev".isNull || $"prev" =!= $"event_type")
    changes
      .withColumn("version", row_number().over(byTime).cast(LongType))
      .withColumn("valid_to", lead($"ts", 1).over(byTime))
      .select($"user_id", $"event_type", $"ts".as("valid_from"),
        $"valid_to", $"version", $"valid_to".isNull.as("is_current"))
  }
}
