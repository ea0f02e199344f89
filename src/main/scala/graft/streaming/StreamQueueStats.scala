package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Telemetry.queueStats]] — the
  * reference's Rx/Tx queue accounting (serial_streaming.lua
  * shellCmd) maintained LIVE: per-stream state is EIGHT scalars
  * (sent/lost counts, cent sums with their non-null counts, last
  * sent/lost µs), folded order-free — the exact counters the Lua
  * proxy keeps per port, O(1) forever. Streams flush at the report
  * barrier (the shell command is a snapshot read); the emitted
  * census rows ARE the report, no further assembly beyond cents →
  * DECIMAL and µs → timestamp. An all-NULL-value stream reports
  * NULL bytes_total but 0 bytes_lost, exactly the batch's bare SUM
  * vs COALESCE'd SUM. Shares queue_stats' oracle.
  *
  * Gated property: a stream's counters split across the cut must
  * accumulate into one report row.
  */
object StreamQueueStats {

  case class Ev(event_type: Option[String], tsUs: Long, lost: Option[Boolean],
      cents: Option[Long], sentinel: Boolean)
  case class St(n: Long, nv: Long, cents: Long, nLost: Long,
      nvLost: Long, centsLost: Long, lastSent: Option[Long],
      lastLost: Option[Long])
  case class Out(event_type: Option[String], n_msgs: Long, nv: Long,
      cents: Long, n_lost: Long, nv_lost: Long, cents_lost: Long,
      last_sent_us: Option[Long], last_lost_us: Option[Long])

  /** The stateful core: order-free counter folds; sentinel flushes
    * the report row. */
  def census(ev: Dataset[Ev]): Dataset[Out] =
    Staged.atBarrier(ev)(_.event_type, _.sentinel)(St(0L, 0L, 0L, 0L, 0L, 0L, None, None)) {
      (st, e) =>
        val c = e.cents.getOrElse(0L)
        st.copy(
          n = st.n + 1L,
          nv = st.nv + e.cents.size,
          cents = Math.addExact(st.cents, c),
          nLost = st.nLost + (if (e.lost.contains(true)) 1L else 0L),
          nvLost = st.nvLost + (if (e.lost.contains(true)) e.cents.size else 0),
          centsLost = if (e.lost.contains(true)) Math.addExact(st.centsLost, c)
            else st.centsLost,
          // three-valued: a NULL k (no digits in props) row sets
          // NEITHER watermark — the batch when(!lost)/when(lost)
          // both skip it
          lastSent = if (e.lost.contains(false))
            Some(st.lastSent.fold(e.tsUs)(math.max(_, e.tsUs))) else st.lastSent,
          lastLost = if (e.lost.contains(true))
            Some(st.lastLost.fold(e.tsUs)(math.max(_, e.tsUs))) else st.lastLost)
    } { (typ, st) =>
      Some(Out(typ, st.n, st.nv, st.cents, st.nLost, st.nvLost, st.centsLost,
        st.lastSent, st.lastLost))
    }

  def streamedQueueStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"event_type", unix_micros($"ts").as("tsUs"),
        (regexp_extract($"props", "([0-9]+)", 1).cast("int") > 50)
          .as("lost"),
        (graft.operators.dec($"value") * 100).cast("long").as("cents"))
    val flushed = Staged.run(spark, Staged.withBarrier[Ev](Staged.timeCut(ev, $"tsUs"),
        ev.select($"event_type").distinct())) { stream =>
      census(stream.as[Ev]).toDF()
    }
    def decCents(c: org.apache.spark.sql.Column) =
      (c.cast("decimal(38,0)") / 100).cast("decimal(38,2)").cast("double")
    flushed.select($"event_type",
      $"n_msgs",
      when($"nv" > 0L, decCents($"cents")).as("bytes_total"),
      $"n_lost",
      coalesce(when($"nv_lost" > 0L, decCents($"cents_lost")), lit(0.0d))
        .as("bytes_lost"),
      timestamp_micros($"last_sent_us").as("last_sent"),
      timestamp_micros($"last_lost_us").as("last_lost"))
  }
}
