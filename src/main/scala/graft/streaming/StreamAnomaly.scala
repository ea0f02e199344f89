package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Streaming moment accumulation for the outlier gate — the
  * reference's anomaly check (notes.org's data-quality pass) as an
  * INCREMENTAL operator: per-user running (n, Σx, Σx²) moments held
  * in O(1) state across micro-batches, flushed once at a sentinel
  * barrier, then the flagging pass joins events against the streamed
  * statistics. This is the canonical two-phase shape for a
  * global-statistic gate over an unbounded stream: you cannot flag
  * event i against statistics that include event j>i without either
  * buffering the stream (O(N) state — unacceptable) or splitting
  * stats accumulation from scoring; production monitors do exactly
  * this (a stats service updated incrementally + a scorer that reads
  * the latest snapshot).
  *
  * Exactness: values quantize to integer CENTS (the batch operator's
  * DECIMAL(18,2) view ×100), so the state is three Longs per user and
  * the cross-partition/cross-batch sums are order-independent and
  * overflow-checked (Math.addExact — a silent wrap would corrupt the
  * variance, so it fails loudly instead). The final mu/m2 doubles are
  * reconstructed through the SAME decimal→double casts the batch
  * operator uses, so the shared `events_anomaly` oracle hash-matches
  * bit-for-bit — including boundary rows where a 1-ulp drift in mu
  * would flip the 2σ comparison.
  *
  * Scale posture: state is 3 Longs per user sharded on the same
  * user_id key the batch groupBy shuffles on; the barrier is one row
  * per user; the scoring join is a plain equi-join on
  * user_id (AQE broadcasts the stats side when small).
  */
object StreamAnomaly {

  // cents is Option: the oracle's COUNT(*) counts NULL-value rows
  // while SUM skips them — None increments n and adds nothing.
  // NULL users are filtered at the source: the scoring equi-join
  // drops them in batch and oracle alike, so they can never reach
  // the output, and pre-shuffle filtering is the scale-right place.
  case class CEv(user_id: Long, cents: Option[Long], sentinel: Boolean)
  case class Mom(n: Long, s1c: Long, s2cc: Long)
  case class MomOut(user_id: Long, n: Long, s1c: Long, s2cc: Long)

  /** The stateful core: fold cents into per-user moments; emit the
    * totals exactly once, when the sentinel arrives. */
  def accumulate(ev: Dataset[CEv]): Dataset[MomOut] =
    Staged.atBarrier(ev)(_.user_id, _.sentinel)(Mom(0L, 0L, 0L)) { (m, e) =>
      Mom(Math.addExact(m.n, 1L),
        Math.addExact(m.s1c, e.cents.getOrElse(0L)),
        Math.addExact(m.s2cc, e.cents.map(c => Math.multiplyExact(c, c)).getOrElse(0L)))
    } { (uid, m) => Some(MomOut(uid, m.n, m.s1c, m.s2cc)) }

  /** The batch-gated run: shares events_anomaly's oracle — the flags
    * match the batch operator only if batch-2 arrivals folded into
    * batch-1 moment state (a per-batch restart would shift every
    * user's mean and flip borderline flags). */
  def streamedAnomaly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.dec
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"user_id".isNotNull)
      .select($"user_id", unix_micros($"ts").as("ts_us"),
        (dec($"value") * 100).cast(LongType).as("cents"))
    val stats = Staged.run(spark, Staged.withBarrier[CEv](Staged.timeCut(ev, $"ts_us"),
        ev.select($"user_id").distinct())) { stream =>
      accumulate(stream.as[CEv]).toDF()
    }
    // every user must emit exactly once (the barrier flushed each
    // user's full history) — a duplicate or missing row means state
    // was replayed or dropped
    val badUsers = stats.groupBy($"user_id").count().filter($"count" =!= 1L).count()
    if (badUsers > 0)
      throw new IllegalStateException(
        s"streamed anomaly: $badUsers users emitted != 1 moment row " +
          "(cross-batch moment state lost or replayed)")
    // reconstruct the batch operator's decimal sums from the integer
    // state (value-exact, so the decimal→double casts below are
    // bit-identical to events_anomaly's), then score
    val mu = ($"s1c".cast(DecimalType(38, 2)) / 100).cast(DoubleType) /
      $"n".cast(DoubleType)
    val m2 = ($"s2cc".cast(DecimalType(38, 4)) / 10000).cast(DoubleType) /
      $"n".cast(DoubleType)
    val scored = stats.select($"user_id", $"n", mu.as("mu"),
      (m2 - mu * mu).as("variance"))
    val x = dec($"value").cast(DoubleType)
    graft.sources.Tables.events(spark, dir)
      .select($"event_id", $"user_id", $"value")
      .join(scored, "user_id")
      .select($"event_id", $"user_id", $"n",
        (((x - $"mu") * (x - $"mu")) > (lit(4.0d) * $"variance")).as("is_anomaly"))
  }
}
