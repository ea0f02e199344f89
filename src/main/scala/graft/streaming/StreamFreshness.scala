package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Streaming twin of [[graft.operators.Quality.freshness]] — the
  * staleness monitor fed LIVE: per event_type the state is (max µs,
  * total count, and the arrival buffer within 24 h of the TYPE's own
  * max). The buffer is the subtle bit: `n_last_day` counts events in
  * the 24 h window ending at the CORPUS max — a population statistic
  * no single key can see — but corpus max ≥ type max, so the global
  * window (gmax−1d, gmax] is always a SUBSET of the per-type window
  * (tmax−1d, tmax] this state retains (any event in the global window
  * has ts > gmax−1d ≥ tmax−1d and ts ≤ tmax). The buffer prunes as
  * the type max advances — the watermark-shaped bound, O(rate × 24 h)
  * per type, never the stream.
  *
  * Types flush at the snapshot barrier (staleness is relative to the
  * corpus high-water mark); the assembly reduces the flushed census
  * to the corpus max and counts each type's buffer against it —
  * type-dimension work. Shares dq_freshness' oracle.
  *
  * Gated property: a type whose max arrives in batch 2 must prune
  * the batch-1 buffer it carried, and a type split across the cut
  * folds counts into one census row.
  */
object StreamFreshness {

  private val DayUs = 86400000000L

  case class Ev(event_type: Option[String], tsUs: Long, sentinel: Boolean)
  case class St(maxUs: Long, n: Long, buf: Seq[Long])
  case class Out(event_type: Option[String], max_us: Long, n_events: Long,
    buf: Seq[Long])

  /** The stateful core: per-type high-water mark + 24h-of-type-max
    * arrival buffer; sentinel flushes the census row. */
  def census(ev: Dataset[Ev]): Dataset[Out] =
    Staged.perBatch(ev)(_.event_type)(St(Long.MinValue, 0L, Nil)) { (typ, s0, it) =>
      var flush = false
      // drain first, prune ONCE against the batch-final max:
      // per-arrival Seq filter+append was O(|buf|) per event —
      // O(window²) per type per batch, which the 100x census
      // measured as a >900 s timeout (33k-event day windows).
      // The end-of-batch state is identical: an arrival survives
      // iff ts >= finalMax − 1d, whether checked at admission
      // (running max only grows) or once at the end.
      val fresh = scala.collection.mutable.ArrayBuffer.empty[Long]
      var mx = s0.maxUs
      var n = s0.n
      it.foreach { e =>
        if (e.sentinel) flush = true
        else {
          if (e.tsUs > mx) mx = e.tsUs
          n += 1L
          fresh += e.tsUs
        }
      }
      val lo = mx - DayUs
      val s =
        if (fresh.isEmpty) s0
        else St(mx, n, (s0.buf.iterator ++ fresh.iterator).filter(_ >= lo).toList)
      (s, if (flush && s.n > 0L) Iterator.single(Out(typ, s.maxUs, s.n, s.buf))
        else Iterator.empty)
    }

  def streamedFreshness(spark: SparkSession, dir: String,
      staleSecs: Long = 86400L): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"event_type", unix_micros($"ts").as("tsUs"))
    val flushed = Staged.run(spark, Staged.withBarrier[Ev](Staged.timeCut(ev, $"tsUs"),
        ev.select($"event_type").distinct())) { stream =>
      census(stream.as[Ev]).toDF()
    }
    // type-dimension assembly: corpus max from the flushed census,
    // each type's last-day count from its own retained buffer
    val hwm = flushed.agg(max($"max_us").as("gmax"))
    flushed.crossJoin(broadcast(hwm))
      .select($"event_type",
        timestamp_micros($"max_us").as("last_ts"),
        $"n_events",
        size(filter($"buf", t => t >= $"gmax" - lit(DayUs)))
          .cast(LongType).as("n_last_day"),
        expr("(gmax - max_us) DIV 1000000").as("lag_seconds"),
        (expr("(gmax - max_us) DIV 1000000") > staleSecs).as("is_stale"))
  }
}
