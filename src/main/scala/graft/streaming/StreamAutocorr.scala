package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Telemetry.autocorr]] — the
  * lag-1 serial-correlation monitor run INCREMENTALLY: per stream the
  * state is the LAST reading only (value cents + its (ts, event_id)
  * order key — the O(1) delay line, [[StreamTransitions]]' causal
  * recipe on the value axis), and every arrival emits its lag PAIR
  * (previous value, current value) at landing. Pairs are final at
  * arrival — the batch window pairs consecutive rows in (ts,
  * event_id) order, and the staged time cut guarantees batch-2
  * arrivals sort after batch-1 state — so emission is append-safe
  * with NO sentinel. The decimal power sums and the Pearson assembly
  * are the batch operator's own
  * ([[graft.operators.Telemetry.autocorrAssembly]]) over the pair
  * sink; cents reconstruct DECIMAL(18,2) exactly, so the sums are
  * bit-identical. NULL readings occupy the delay slot but emit no
  * x-pair (the window's lag semantics, three-valued on both sides).
  *
  * Gated property: a pair split across the micro-batch cut must come
  * out of cross-batch state — lose it and n_pairs (hence every sum)
  * shifts.
  */
object StreamAutocorr {

  case class Ev(event_type: Option[String], tsUs: Long, event_id: Long,
    cents: Option[Long])
  case class Last(cents: Option[Long])
  case class Pair(event_type: Option[String], x_cents: Long,
    y_cents: Option[Long])

  /** The stateful core: O(1) delay line per stream; emit the (prev,
    * cur) pair at each arrival whose predecessor reading is
    * non-null. */
  def pairs(ev: Dataset[Ev]): Dataset[Pair] =
    Staged.onArrival(ev)(_.event_type, e => (e.tsUs, e.event_id))(Option.empty[Last]) {
      (last, e) => (Some(Last(e.cents)),
        for (l <- last; x <- l.cents) yield Pair(e.event_type, x, e.cents))
    }

  def streamedAutocorr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"event_type", unix_micros($"ts").as("tsUs"), $"event_id",
        when($"value".isNotNull,
          (expr("CAST(value AS DECIMAL(18,2))") * 100).cast("long"))
          .as("cents"))
    val log = Staged.run(spark, Staged.timeCut(ev, $"tsUs")) { stream =>
      pairs(stream.as[Ev]).toDF()
    }
    graft.operators.Telemetry.autocorrAssembly(log.select($"event_type",
      ($"x_cents".cast("decimal(18,2)") / 100).cast("decimal(18,2)").as("x"),
      ($"y_cents".cast("decimal(18,2)") / 100).cast("decimal(18,2)").as("y")))
  }
}
