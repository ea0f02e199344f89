package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Telemetry.attribution]] —
  * last-touch attribution run as an INCREMENTAL stateful operator:
  * per-user state is the one most-recent touch (type, µs) — O(1)
  * however long the clickstream — and each purchase is attributed at
  * arrival against that state instead of a retrospective running-last
  * window over the full history. This is the online shape of the
  * marketing/causal "which channel gets the credit" join: purchases
  * tag themselves in the micro-batch they arrive in, append-safe.
  *
  * Intra-batch arrival order pins to (event time, event_id) — the
  * batch window's exact sort key — so a touch and a purchase at the
  * same µs resolve identically (touch with the smaller event_id
  * counts, one with a larger does not).
  *
  * Gated property: purchases in batch 2 whose last touch landed in
  * batch 1 MUST attribute from cross-batch state (the spec asserts
  * such pairs exist — a cut that splits no (touch, purchase) pair
  * would make the gate vacuous). No sentinel needed: attribution is
  * stateless on the output side, rows emit in the batch their
  * purchase arrives.
  * The per-purchase emission then aggregates through the SAME
  * decimal-exact rollup as the batch operator and shares its oracle.
  */
object StreamAttribution {

  // user_id/value are Option: the batch window keeps the NULL-user
  // partition and SUM skips NULL values — a bare Long/Double encoder
  // hard-fails on them instead of reproducing those semantics
  case class Ev(user_id: Option[Long], eus: Long, event_id: Long,
      event_type: String, value: Option[Double])
  case class Touch(tType: String, tUs: Long)
  case class AttrOut(user_id: Option[Long], event_id: Long, attributed: String,
      value: Option[Double])

  /** The stateful core: touches update state, purchases read it. */
  def attribute(ev: Dataset[Ev], lookUs: Long): Dataset[AttrOut] =
    Staged.onArrival(ev)(_.user_id, e => (e.eus, e.event_id))(Option.empty[Touch]) {
      (touch, e) => e.event_type match {
        case "click" | "view" => (Some(Touch(e.event_type, e.eus)), None)
        case "purchase" => (touch, Some(AttrOut(e.user_id, e.event_id,
          touch.filter(t => e.eus - t.tUs <= lookUs).fold("direct")(_.tType), e.value)))
        case _ => (touch, None)
      }
    }

  def streamedAttribution(spark: SparkSession, dir: String,
      lookbackSecs: Long = 7L * 86400L): DataFrame = {
    import spark.implicits._
    val lookUs = lookbackSecs * 1000000L
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"user_id", unix_micros($"ts").as("eus"), $"event_id",
        $"event_type", $"value")
    val log = Staged.run(spark, Staged.timeCut(ev, $"eus")) { stream =>
      attribute(stream.as[Ev], lookUs).toDF()
    }
    // same decimal-exact rollup as the batch operator (shared oracle)
    log.groupBy($"attributed")
      .agg(count(lit(1)).as("n_purchases"),
        graft.operators.dsum($"value").as("attributed_value"))
  }
}
