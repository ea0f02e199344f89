package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of [[graft.operators.Telemetry.attributionLinear]]
  * — the multi-touch (linear, floor-basis-point) attribution split
  * run LIVE: per-user state is the touch buffer restricted to the
  * lookback window — the WATERMARK-SHAPED bound every streaming
  * attribution system carries (O(touch rate × lookback), pruned on
  * every arrival because event time folds monotonically per user) —
  * and each purchase emits its basis-point split at landing, final
  * immediately. Same-µs micro-structure matters: the batch window is
  * a RANGE frame, so a click at the purchase's exact microsecond
  * counts whatever its event_id order — arrivals therefore fold in
  * same-timestamp GROUPS, touches before purchases. The channel
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
  case class Buf(touches: Seq[Touch])
  case class Split(cents: Option[Long], click_bp: Long, view_bp: Long,
      direct_bp: Long)

  /** The stateful core. */
  def splits(ev: Dataset[Ev], lookUs: Long): Dataset[Split] = {
    val spark = ev.sparkSession
    import spark.implicits._
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[Buf, Split](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, it, state: GroupState[Buf]) =>
          var touches = state.getOption.map(_.touches.toList).getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer.empty[Split]
          // same-timestamp groups: a range frame counts same-µs
          // touches regardless of event_id order, so fold the whole
          // group's touches before its purchases
          it.toSeq.sortBy(e => (e.tsUs, e.event_id))
            .groupBy(_.tsUs).toSeq.sortBy(_._1).foreach { case (t, group) =>
              touches = touches.filter(_.tUs >= t - lookUs)
              group.foreach {
                case e if e.kind == 0 => touches ::= Touch(e.tsUs, isClick = true)
                case e if e.kind == 1 => touches ::= Touch(e.tsUs, isClick = false)
                case _ => ()
              }
              group.filter(_.kind == 2).foreach { p =>
                val nClick = touches.count(_.isClick)
                val nView = touches.count(!_.isClick)
                val tot = nClick + nView
                if (tot > 0)
                  out += Split(p.cents,
                    10000L * nClick / tot, 10000L * nView / tot, 0L)
                else out += Split(p.cents, 0L, 0L, 10000L)
              }
            }
          state.update(Buf(touches))
          out.iterator
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
    val bounds = ev.agg(min($"tsUs"), max($"tsUs")).head()
    if (bounds.isNullAt(0)) return spark.emptyDataFrame
    val cut = (bounds.getLong(0) + bounds.getLong(1)) / 2
    val log = StreamDedup.runStagedStream(spark,
        Seq(ev.filter($"tsUs" <= cut), ev.filter($"tsUs" > cut))) { stream =>
      splits(stream.as[Ev], lookbackSecs * 1000000L).toDF()
    }.getOrElse(return spark.emptyDataFrame)
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
