package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Streaming twin of [[graft.operators.Telemetry.queueTtl]] — the
  * reference relay's data-lifetime management run as LIVE per-stream
  * state (serial_streaming.lua:16) instead of a retrospective window
  * pass: unsent messages buffer in per-event_type group state until
  * the next successful send supplies their service instant, at which
  * point each is classified transport-lost (slot within TTL) or
  * age-EXPIRED (slot too late / never). The batch operator computes
  * the same classification with min-over-following; the streaming
  * version never looks ahead — it holds exactly the unserviced
  * suffix per stream, which is the bounded state a real relay keeps.
  *
  * End-of-stream flush: a sentinel "sent" at t = +∞ per stream (the
  * bounded-input analogue of the queue draining on shutdown) gives
  * every still-pending message an infinitely-late slot, so the tail
  * classifies expired exactly like the batch operator's null
  * service instant.
  */
object StreamTtl {

  // cents is Option (the oracle's SUM skips NULL values) and a NULL
  // `sent` coalesces to false before the encoder (a NULL CASE guard
  // neither delivers nor services, exactly like false)
  case class TtlEvent(event_type: String, event_id: Long, t_us: Long,
      cents: Option[Long], sent: Boolean)
  case class TtlOut(event_type: String, event_id: Long, t_us: Long,
      cents: Option[Long], svc_us: Long, outcome: String)

  /** Incremental classifier: state per stream = the pending (unsent,
    * unserviced) messages in arrival order, newest first; a sent
    * message services the whole buffer then emits itself as
    * delivered. Batch-internal order (t_us, event_id) matches the
    * batch operator's window sort exactly, so outputs are identical
    * under any staging. */
  def statefulTtl(events: Dataset[TtlEvent], ttlUs: Long): Dataset[TtlOut] =
    Staged.onArrival(events)(_.event_type, e => (e.t_us, e.event_id))(List.empty[TtlEvent]) {
      (pendingRev, e) =>
        if (!e.sent) (e :: pendingRev, Nil)
        else (Nil, pendingRev.reverse.map { p =>
          TtlOut(p.event_type, p.event_id, p.t_us, p.cents, e.t_us,
            if (e.t_us - p.t_us > ttlUs) "expired" else "lost")
        } :+ TtlOut(e.event_type, e.event_id, e.t_us, e.cents, e.t_us, "delivered"))
    }

  /** Batch-gated run (`stream_ttl`): pending state must CARRY across
    * the micro-batch cut for the tail accounting to be right; a flush
    * row per stream in the final batch, then the same per-stream
    * rollup as the batch operator — sharing queue_ttl's DuckDB
    * oracle. */
  def streamedTtl(spark: SparkSession, dir: String,
      ttlSecs: Long = 86400L): DataFrame = {
    import spark.implicits._
    val ttlUs = ttlSecs * 1000000L
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .withColumn("k", regexp_extract($"props", "([0-9]+)", 1).cast("int"))
      .select($"event_type", $"event_id", unix_micros($"ts").as("t_us"),
        round($"value" * 100).cast(LongType).as("cents"),
        coalesce($"k" <= 50, lit(false)).as("sent"))
    val flush = ev.select($"event_type").distinct()
      .select($"event_type", lit(-1L).as("event_id"),
        lit(Long.MaxValue).as("t_us"), lit(true).as("sent"))
    val log = Staged.run(spark,
        Staged.withBarrier[TtlEvent](Staged.timeCut(ev, $"t_us"), flush)) { stream =>
      statefulTtl(stream.as[TtlEvent], ttlUs).toDF()
    }
    log.filter($"event_id" >= 0L)
      .groupBy($"event_type")
      .agg(
        sum(when($"outcome" === "delivered", 1L).otherwise(0L)).as("n_delivered"),
        sum(when($"outcome" === "expired", 1L).otherwise(0L)).as("n_expired"),
        sum(when($"outcome" === "lost", 1L).otherwise(0L)).as("n_lost"),
        (coalesce(sum(when($"outcome" === "delivered", $"cents")), lit(0L)) / 100.0d)
          .as("bytes_delivered"),
        (coalesce(sum(when($"outcome" === "expired", $"cents")), lit(0L)) / 100.0d)
          .as("bytes_expired"),
        (coalesce(sum(when($"outcome" === "lost", $"cents")), lit(0L)) / 100.0d)
          .as("bytes_lost"),
        max(when($"outcome" === "lost", $"svc_us" - $"t_us")).as("max_lost_wait_us"))
  }
}
