package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of [[graft.operators.Telemetry.alerts]] — debounced
  * threshold alerting as the ONLINE operator it really is: the batch
  * form reconstructs emission decisions retrospectively with a lag
  * window, while a live monitoring pipeline decides at arrival.
  * Per-(stream, device) state is ONE µs timestamp — the most recent
  * over-threshold reading — so the decision ("did anything precede me
  * within the cooldown?") is O(1) per event and state is O(1) per
  * timeline forever.
  *
  * The threshold predicate applies BEFORE the stateful shuffle (same
  * scan-local discipline as the batch plan): at 100 TB only the alert
  * subset shards into the state store, never the firehose.
  * Intra-batch arrival pins to (event time, event_id) — the batch
  * window's exact sort key — so equal-µs readings resolve
  * identically in both forms.
  *
  * Batch-gated run: two micro-batches split at the median event
  * time; an alert early in batch 2 whose predecessor landed late in
  * batch 1 MUST see the cross-batch state to suppress correctly.
  * Emission is append-mode at arrival (no sentinel — the decision
  * never revises). Shares `events_alerts`' oracle.
  */
object StreamAlerts {

  case class Alert(user_id: Long, event_id: Long, event_type: String,
      value: Double, threshold: Long, t_us: Long)
  case class AlertOut(event_id: Long, user_id: Long, event_type: String,
      value: Double, threshold: Long, t_us: Long, emitted: Boolean)

  /** The stateful core: each over-threshold reading emits iff the
    * previous one on its timeline is farther back than the cooldown. */
  def debounce(alerts: Dataset[Alert], coolUs: Long): Dataset[AlertOut] = {
    val spark = alerts.sparkSession
    import spark.implicits._
    alerts.groupByKey(a => (a.event_type, a.user_id))
      .flatMapGroupsWithState[Long, AlertOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((etype, uid), it, state: GroupState[Long]) =>
          var prev = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[AlertOut]
          it.toSeq.sortBy(a => (a.t_us, a.event_id)).foreach { a =>
            val emitted = prev.forall(p => a.t_us - p > coolUs)
            out += AlertOut(a.event_id, uid, etype, a.value, a.threshold,
              a.t_us, emitted)
            prev = Some(a.t_us)
          }
          prev.foreach(state.update)
          out.iterator
      }
  }

  /** The batch-gated run: shares events_alerts' oracle. */
  def streamedAlerts(spark: SparkSession, dir: String,
      cooldownSecs: Long = 1800L): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val coolUs = cooldownSecs * 1000000L
    val thr = (length($"event_type").cast(LongType) * 7L) % 40L + 30L
    // scan-local threshold BEFORE the stateful shuffle
    val alerts = graft.sources.Tables.events(spark, dir)
      .filter($"value" > thr.cast(DoubleType))
      .select($"user_id", $"event_id", $"event_type", $"value",
        thr.as("threshold"), unix_micros($"ts").as("t_us"))
    val bounds = alerts.agg(min($"t_us"), max($"t_us")).head()
    if (bounds.isNullAt(0)) return spark.emptyDataFrame
    val cut = (bounds.getLong(0) + bounds.getLong(1)) / 2
    StreamDedup.runStagedStream(spark,
        Seq(alerts.filter($"t_us" <= cut), alerts.filter($"t_us" > cut))) {
      stream => debounce(stream.as[Alert], coolUs).toDF()
    }.getOrElse(spark.emptyDataFrame)
      .select($"event_id", $"user_id", $"event_type", $"value",
        $"threshold", $"t_us", $"emitted")
  }
}
