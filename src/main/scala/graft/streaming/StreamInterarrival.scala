package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of [[graft.operators.Telemetry.interarrival]] —
  * the arrival-process profile run INCREMENTALLY: per event-type
  * state is the single most-recent (µs, event_id) arrival — O(1)
  * however fast the stream — and each arrival emits its gap against
  * that state the moment it lands. A gap whose two arrivals straddle
  * the micro-batch cut MUST come out of cross-batch state. The
  * percentile rollup is rank statistics over the FULL gap
  * distribution, so it runs batch-side over the emitted gap log (the
  * same two-phase discipline as [[StreamAnomaly]]: accumulate online,
  * rank at the barrier); the ranks, thresholds, and tie-breaks are
  * the batch operator's own, and the shared `events_interarrival`
  * oracle gates the equality.
  */
object StreamInterarrival {

  case class Ev(event_type: String, tsUs: Long, event_id: Long)
  case class Last(tsUs: Long, event_id: Long)
  case class Gap(event_type: String, event_id: Long, gap_us: Long)

  /** The stateful core: one (ts, id) per type; each arrival emits its
    * delta to the previous arrival. */
  def gaps(ev: Dataset[Ev]): Dataset[Gap] = {
    val spark = ev.sparkSession
    import spark.implicits._
    ev.groupByKey(_.event_type)
      .flatMapGroupsWithState[Last, Gap](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (tp, it, state: GroupState[Last]) =>
          var last = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[Gap]
          it.toSeq.sortBy(e => (e.tsUs, e.event_id)).foreach { e =>
            last.foreach(l => out += Gap(tp, e.event_id, e.tsUs - l.tsUs))
            last = Some(Last(e.tsUs, e.event_id))
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  def streamedInterarrival(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull && $"event_type".isNotNull)
      .select($"event_type", unix_micros($"ts").as("tsUs"), $"event_id")
    val bounds = ev.agg(min($"tsUs"), max($"tsUs")).head()
    if (bounds.isNullAt(0)) return spark.emptyDataFrame
    val cut = (bounds.getLong(0) + bounds.getLong(1)) / 2
    val log = StreamDedup.runStagedStream(spark,
        Seq(ev.filter($"tsUs" <= cut), ev.filter($"tsUs" > cut))) { stream =>
      gaps(stream.as[Ev]).toDF()
    }.getOrElse(return spark.emptyDataFrame)
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
