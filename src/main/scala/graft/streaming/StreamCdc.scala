package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming changelog materialization — [[graft.operators.Changelog.cdcApply]]
  * run INCREMENTALLY: the CDC topic arrives as an unbounded stream
  * and the compacted table maintains itself in per-key state instead
  * of being re-derived by a batch scan of the whole topic. This is
  * the standing shape of every Debezium-topic → serving-table
  * pipeline: per key the state is ONE candidate row (latest op by
  * event-time µs) plus two counters — O(1) however long the key's
  * history — and each arrival either loses the max-by election or
  * replaces the candidate. Tombstones ('error' ops) stay IN state
  * rather than deleting it: a late-arriving earlier upsert must
  * still lose to the tombstone, which a delete-on-tombstone state
  * model gets wrong.
  *
  * A per-key barrier flushes the final compacted row — shares
  * `q_cdc_apply`'s oracle, so batch-2 operations must fold into
  * batch-1 election state for the hash to match. Keys whose final op
  * is a tombstone drop in the post-pass, exactly like the batch
  * operator.
  *
  * Scale posture: state is one row per LIVE key sharded on the same
  * key the batch groupBy shuffles on; emission is append-mode
  * (one final row per key at the barrier; in production the barrier
  * is replaced by continuous upsert emission to a merge-on-read
  * sink).
  */
object StreamCdc {

  // user_id/value are Option: the batch groupBy keeps the NULL-user
  // key and latest-wins carries a NULL value verbatim (an upsert may
  // legitimately set NULL) — a bare Long/Double encoder hard-fails
  case class Op(user_id: Option[Long], ts_us: Long, value: Option[Double], op: String,
      sentinel: Boolean)
  case class Compacted(nOps: Long, nDeletes: Long, op: String, value: Option[Double],
      tsUs: Long)
  case class CdcOut(user_id: Option[Long], n_ops: Long, n_deletes: Long, op: String,
      value: Option[Double], ts_us: Long)

  /** The stateful core: fold each operation into the per-key
    * election; emit the compacted row exactly once, at the
    * sentinel. (user, ts) is unique in the corpus so the µs max-by
    * is tie-free, matching the batch `max_by`. */
  def compact(ops: Dataset[Op]): Dataset[CdcOut] =
    Staged.atBarrier(ops)(_.user_id, _.sentinel)(Option.empty[Compacted]) { (s, e) =>
      val del = if (e.op == "D") 1L else 0L
      Some(s match {
        case None => Compacted(1L, del, e.op, e.value, e.ts_us)
        case Some(c) if e.ts_us > c.tsUs =>
          Compacted(c.nOps + 1, c.nDeletes + del, e.op, e.value, e.ts_us)
        case Some(c) => c.copy(nOps = c.nOps + 1, nDeletes = c.nDeletes + del)
      })
    } { (uid, s) => s.map(c => CdcOut(uid, c.nOps, c.nDeletes, c.op, c.value, c.tsUs)) }

  /** The batch-gated run: shares q_cdc_apply's oracle. */
  def streamedCdc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val log = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"user_id", unix_micros($"ts").as("ts_us"), $"value",
        when($"event_type" === "error", lit("D")).otherwise(lit("U")).as("op"))
    val out = Staged.run(spark, Staged.withBarrier[Op](Staged.timeCut(log, $"ts_us"),
        log.select($"user_id").distinct())) { stream =>
      compact(stream.as[Op]).toDF()
    }
    val badUsers = out.groupBy($"user_id").count().filter($"count" =!= 1L).count()
    if (badUsers > 0)
      throw new IllegalStateException(
        s"streamed cdc: $badUsers keys emitted != 1 compacted row " +
          "(cross-batch election state lost or replayed)")
    out.filter($"op" =!= "D")
      .select($"user_id", $"value", timestamp_micros($"ts_us").as("updated_at"),
        $"n_ops", $"n_deletes")
  }
}
