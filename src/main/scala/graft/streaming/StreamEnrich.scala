package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Stream-STATIC enrichment — the remaining Structured Streaming join
  * shape after the relay (stream→sink), sessionization (stateful
  * agg), and interval join (stream-stream) twins: a live stream
  * joined per micro-batch against a precomputed batch profile (the
  * "enrich clicks with the user's historical features" pattern of
  * every online feature store).
  *
  * The static side is a per-user rollup of the SAME events table, so
  * the DuckDB oracle is a plain self-join-to-aggregate — and the
  * static side BROADCASTS: a stream-static join that shuffles the
  * stream side per micro-batch would pay a full exchange every
  * trigger at production rates, where the broadcast pays once per
  * micro-batch planning cycle and keeps the stream map-side. Unlike
  * the stateful twins there is no state store at all — the join is
  * stateless per batch, which is exactly why this shape scales to
  * any stream rate the map tasks can absorb.
  */
object StreamEnrich {

  /** Batch-gated run (`stream_enrich`): purchases streamed through a
    * broadcast stream-static join against the per-user batch profile,
    * then rolled up per user. The oracle is the equivalent batch
    * join; equality holds because the static side is identical in
    * every micro-batch. */
  def streamedEnrich(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"event_id", $"user_id", $"ts", $"event_type")
    val log = Staged.run(spark, Staged.timeCut(ev, unix_micros($"ts"))) { stream =>
      val ss = stream.sparkSession
      import ss.implicits._
      // the static side re-resolves per micro-batch from the session
      // the stream runs in (normal stream-static semantics); decimal
      // sum → double for engine-exact profile values
      val prof = graft.sources.Tables.events(ss, dir)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("hist_events"),
          sum(graft.operators.dec($"value")).cast(DoubleType).as("hist_value"))
      // the profile is per-USER — it scales with the data, so the
      // broadcast hint is size-gated (shuffled join above threshold)
      stream.filter($"event_type" === "purchase")
        .join(graft.operators.JoinGate.gatedBroadcast(prof,
          "stream_enrich.profile"), Seq("user_id"))
        .select($"event_id", $"user_id", $"hist_events", $"hist_value")
    }
    val out = log.groupBy($"user_id")
      .agg(count(lit(1)).as("n_purchases"),
        max($"hist_events").as("hist_events"),
        max($"hist_value").as("hist_value"))
    // loud gate: every streamed purchase must have found its profile —
    // a silent inner-join drop here would surface as a cryptic count
    // mismatch in the oracle diff
    val streamed = log.count()
    val purchases = ev.filter($"event_type" === "purchase").count()
    if (streamed != purchases)
      throw new IllegalStateException(
        s"stream-static enrich dropped rows: $streamed joined vs $purchases purchases")
    out
  }
}
