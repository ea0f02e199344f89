package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stream-stream interval join — the Structured Streaming capability
  * the relay family hasn't exercised yet: two UNBOUNDED sides (a
  * control stream and a data stream, both derived from the same
  * ingest) joined on key + a time bound, with watermarks limiting
  * how much of each side the join buffers.
  *
  * This is the "enrich telemetry with its most recent command"
  * pattern (transparent_serial_proxy.lua's gate, relaxed to a
  * bounded-recency join): each data event pairs with every control
  * event of its stream from the preceding `windowSecs`. The interval
  * condition is what makes the state FINITE: Spark evicts a buffered
  * control row once the watermark passes ctl_ts + windowSecs, and a
  * buffered data row once no future control can precede it — without
  * the bound, both sides buffer forever.
  */
object StreamJoin {

  /** Batch-gated run (`stream_join`): events staged as two
    * micro-batches split at the control timestamp of a known
    * cross-batch match (a median-time cut almost never lands inside
    * a 10-minute window, which would leave the cross-batch buffering
    * untested), streamed through a watermarked interval self-join.
    * The oracle is the equivalent batch range join — it only matches
    * if control rows buffered in batch 1 meet data rows arriving in
    * batch 2. The staging cut is harness logic (a production
    * deployment replays a day boundary); the joined PLAN is the
    * shipped operator. */
  def streamedJoin(spark: SparkSession, dir: String,
      windowSecs: Long = 600L): DataFrame = {
    import spark.implicits._
    val ctlTypes = Seq("signup", "error")
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"event_id", $"user_id", $"ts", $"event_type")
    // cut so that at least one matched pair straddles the batches:
    // the strict pair (ctl before data) with the earliest data side,
    // cut AT its control timestamp — ctl lands in batch 1, its data
    // partner in batch 2. Falls back to the median when no strict
    // pair exists (the gate then only checks the in-batch join).
    val ctl0 = ev.filter($"event_type".isin(ctlTypes: _*))
      .select($"user_id".as("cu"), unix_micros($"ts").as("cus"))
    val data0 = ev.filter(!$"event_type".isin(ctlTypes: _*))
      .select($"user_id".as("du"), unix_micros($"ts").as("dus"))
    val strict =
      data0.join(ctl0, $"du" === $"cu" &&
        $"cus" < $"dus" && $"cus" >= $"dus" - windowSecs * 1000000L)
      .agg(min(struct($"dus", $"cus"))).head()
    val strictCut = Option.when(!strict.isNullAt(0))(strict.getStruct(0).getLong(1))
    val log = Staged.run(spark, Staged.timeCut(ev, unix_micros($"ts"), strictCut)) { stream =>
      val ss = stream.sparkSession
      import ss.implicits._
      // time-split batches arrive in event-time order, so a zero
      // watermark delay admits every row AND keeps eviction exact:
      // after batch 1 the watermark sits at the cut, and batch-2 data
      // only needs controls within windowSecs of it — precisely the
      // retained range
      val ctl = stream.filter($"event_type".isin(ctlTypes: _*))
        .select($"event_id".as("ctl_event_id"), $"user_id".as("ctl_user"),
          $"ts".as("ctl_ts"), $"event_type".as("ctl_type"))
        .withWatermark("ctl_ts", "0 seconds")
      val data = stream.filter(!$"event_type".isin(ctlTypes: _*))
        .select($"event_id", $"user_id", $"ts")
        .withWatermark("ts", "0 seconds")
      data.join(ctl,
        $"user_id" === $"ctl_user" &&
          $"ctl_ts" >= $"ts" - expr(s"INTERVAL $windowSecs SECONDS") &&
          $"ctl_ts" <= $"ts")
        .select($"event_id", $"user_id", $"ts", $"ctl_event_id", $"ctl_type",
          (unix_micros($"ts") - unix_micros($"ctl_ts")).as("delay_us"))
    }
    // if the staging found a straddling pair, the sink must contain at
    // least one cross-batch match — otherwise batch-1 control state
    // was not consulted and the oracle diff would be cryptic
    strictCut.foreach { cut =>
      val crossBatch = log.filter(
        unix_micros($"ts") > cut && unix_micros($"ts") - $"delay_us" <= cut).count()
      if (crossBatch < 1)
        throw new IllegalStateException(
          "streamed join: no cross-batch matches despite a straddling pair " +
            "(batch-1 control state not consulted)")
    }
    log
  }
}
