package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Streaming twin of [[graft.operators.Telemetry.interarrival]] —
  * the arrival-process profile run INCREMENTALLY: per event-type
  * state is the single most-recent (µs, event_id) arrival — O(1)
  * however fast the stream — and each arrival emits its gap against
  * that state the moment it lands. A gap whose two arrivals straddle
  * the micro-batch cut MUST come out of cross-batch state. The
  * percentile rollup is rank statistics over the FULL gap
  * distribution, so it runs batch-side over the emitted gap log (the
  * same two-phase discipline as [[StreamAnomaly]]: accumulate online,
  * rank over the final log); the ranks, thresholds, and tie-breaks are
  * the batch operator's own, and the shared `events_interarrival`
  * oracle gates the equality.
  */
object StreamInterarrival {

  case class Ev(event_type: String, tsUs: Long, event_id: Long)
  case class Last(tsUs: Long, event_id: Long)
  case class Gap(event_type: String, event_id: Long, gap_us: Long)

  /** The stateful core: one (ts, id) per type; each arrival emits its
    * delta to the previous arrival. */
  def gaps(ev: Dataset[Ev]): Dataset[Gap] =
    Staged.onArrival(ev)(_.event_type, e => (e.tsUs, e.event_id))(Option.empty[Last]) {
      (last, e) => (Some(Last(e.tsUs, e.event_id)),
        last.map(l => Gap(e.event_type, e.event_id, e.tsUs - l.tsUs)))
    }

  def streamedInterarrival(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull && $"event_type".isNotNull)
      .select($"event_type", unix_micros($"ts").as("tsUs"), $"event_id")
    val log = Staged.run(spark, Staged.timeCut(ev, $"tsUs")) { stream =>
      gaps(stream.as[Ev]).toDF()
    }
    // the batch operator's own rank rollup over the streamed gap log
    val wRank = Window.partitionBy($"event_type")
      .orderBy($"gap_us".asc, $"event_id".asc)
    log
      .withColumn("rn", row_number().over(wRank).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"event_type")))
      .groupBy($"event_type")
      .agg(
        max($"n").as("n_gaps"),
        max(when($"rn" === expr("(n + 1) div 2"), $"gap_us")).as("p50_us"),
        max(when($"rn" === expr("(9 * n + 9) div 10"), $"gap_us")).as("p90_us"),
        max(when($"rn" === expr("(99 * n + 99) div 100"), $"gap_us")).as("p99_us"),
        max($"gap_us").as("max_us"))
  }
}
