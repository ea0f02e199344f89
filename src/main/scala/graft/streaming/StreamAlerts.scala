package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

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
  * Gated property: an alert early in batch 2 whose predecessor
  * landed late in batch 1 MUST see the cross-batch state to suppress
  * correctly. Emission is append-mode at arrival (no sentinel — the
  * decision never revises). Shares `events_alerts`' oracle.
  */
object StreamAlerts {

  case class Alert(user_id: Long, event_id: Long, event_type: String,
      value: Double, threshold: Long, t_us: Long)
  case class AlertOut(event_id: Long, user_id: Long, event_type: String,
      value: Double, threshold: Long, t_us: Long, emitted: Boolean)

  /** The stateful core: each over-threshold reading emits iff the
    * previous one on its timeline is farther back than the cooldown. */
  def debounce(alerts: Dataset[Alert], coolUs: Long): Dataset[AlertOut] =
    Staged.onArrival(alerts)(a => (a.event_type, a.user_id), a => (a.t_us, a.event_id))(
        Option.empty[Long]) { (prev, a) =>
      (Some(a.t_us), Some(AlertOut(a.event_id, a.user_id, a.event_type, a.value,
        a.threshold, a.t_us, emitted = prev.forall(p => a.t_us - p > coolUs))))
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
      .filter($"value" > thr.cast(DoubleType) && $"ts".isNotNull)
      .select($"user_id", $"event_id", $"event_type", $"value",
        thr.as("threshold"), unix_micros($"ts").as("t_us"))
    Staged.run(spark, Staged.timeCut(alerts, $"t_us")) {
      stream => debounce(stream.as[Alert], coolUs).toDF()
    }.select($"event_id", $"user_id", $"event_type", $"value",
        $"threshold", $"t_us", $"emitted")
  }
}
