package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Telemetry.attributionLinear]]
  * — the multi-touch (linear, floor-basis-point) attribution split
  * run LIVE: per-user state is the touch buffer restricted to the
  * lookback window — the WATERMARK-SHAPED bound every streaming
  * attribution system carries (O(touch rate × lookback), pruned on
  * every arrival because event time folds monotonically per user) —
  * and each purchase emits its basis-point split at landing, final
  * immediately. Same-µs micro-structure matters: the batch window is
  * a RANGE frame, so a click at the purchase's exact microsecond
  * counts whatever its event_id order — arrivals therefore fold
  * touches before the purchases of the same µs. The channel
  * rollup over the emitted splits is the batch operator's own
  * (explode the 3-channel map, drop zero shares, decimal-exact
  * value×bp sums via cents). Shares events_attribution_linear's
  * oracle.
  *
  * Gated property: a purchase in batch 2 must count touches from
  * batch 1 still inside its lookback (cross-cut touch state), and
  * pruned touches must never resurrect.
  */
object StreamAttrLinear {

  case class Ev(user_id: Option[Long], tsUs: Long, event_id: Long,
      kind: Int, cents: Option[Long]) // kind: 0 touch-click, 1 touch-view, 2 purchase, 3 other
  case class Touch(tUs: Long, isClick: Boolean)
  case class Split(cents: Option[Long], click_bp: Long, view_bp: Long,
      direct_bp: Long)

  /** The stateful core: the lookback-pruned touch buffer; each
    * purchase splits over the touches inside its lookback. */
  def splits(ev: Dataset[Ev], lookUs: Long): Dataset[Split] =
    Staged.onArrival(ev)(_.user_id, e => (e.tsUs, e.kind == 2, e.event_id))(
        List.empty[Touch]) { (buf, e) =>
      val touches = buf.filter(_.tUs >= e.tsUs - lookUs)
      if (e.kind == 0 || e.kind == 1) (Touch(e.tsUs, isClick = e.kind == 0) :: touches, None)
      else if (e.kind != 2) (touches, None)
      else {
        val nClick = touches.count(_.isClick)
        val tot = touches.length
        (touches, Some(
          if (tot > 0) Split(e.cents, 10000L * nClick / tot, 10000L * (tot - nClick) / tot, 0L)
          else Split(e.cents, 0L, 0L, 10000L)))
      }
    }

  def streamedAttrLinear(spark: SparkSession, dir: String,
      lookbackSecs: Long = 7L * 86400L): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"user_id", unix_micros($"ts").as("tsUs"), $"event_id",
        when($"event_type" === "click", 0)
          .when($"event_type" === "view", 1)
          .when($"event_type" === "purchase", 2)
          .otherwise(3).as("kind"),
        when($"event_type" === "purchase",
          (graft.operators.dec($"value") * 100).cast("long")).as("cents"))
    val log = Staged.run(spark, Staged.timeCut(ev, $"tsUs")) { stream =>
      splits(stream.as[Ev], lookbackSecs * 1000000L).toDF()
    }
    // the batch operator's own channel rollup, cents-exact
    log
      .select($"cents", explode(map(
        lit("click"), $"click_bp",
        lit("view"), $"view_bp",
        lit("direct"), $"direct_bp")).as(Seq("channel", "bp")))
      .filter($"bp" > 0L)
      .groupBy($"channel")
      .agg(count(lit(1)).as("n_purchases"),
        (sum($"cents" * $"bp").cast("decimal(38,0)") / 100)
          .cast("decimal(38,2)").cast("double").as("value_bp"))
  }
}
