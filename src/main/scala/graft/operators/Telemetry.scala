package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType}

import graft.sources.Tables

/** Event-time telemetry operators re-expressing the reference's
  * stream-processing requirements (iceberg-twist notes.org +
  * serial_streaming.lua) as distributed Spark plans.
  *
  * All ops shuffle at most once (hash on user/stream key) and use
  * decimal-exact running math for oracle parity.
  */
object Telemetry {

  private def byUserTime(spark: SparkSession) = {
    import spark.implicits._
    Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
  }

  /** Schema-on-read JSON extraction — the semi-structured half of an
    * event stream (the reference's shellCmd notifications carry
    * key-value payloads the same way): the `props` JSON string column
    * parses against a DECLARED schema inside the plan (`from_json` —
    * no driver-side parsing, no dynamic schema inference pass over
    * 100 TB), extracted fields immediately participate in relational
    * ops. Extraction is scan-local; the only shuffle is the grouped
    * aggregation. Malformed JSON yields null fields (quarantinable),
    * never a job failure. */
  def propsExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"event_type", $"value",
        from_json($"props", lit("k BIGINT")).getField("k").as("k"))
      .groupBy($"event_type", ($"k" % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n_events"),
           dsum($"value").as("sum_value"),
           max($"k").as("max_k"))
  }

  /** Trailing moving average over an event-TIME window (RANGE frame,
    * not ROWS): each event averages its user's values over the
    * preceding `minutes` of event time — the irregular-cadence
    * smoothing a sensor fleet needs (ROWS frames are wrong when
    * arrival rates vary). One shuffle per user; per-key frame state
    * is bounded by the time span, not the stream; integer-µs frame
    * bounds and a decimal-exact windowed sum keep the division the
    * only double op (deterministic both engines). */
  def movingAvg(spark: SparkSession, dir: String, minutes: Int = 10): DataFrame = {
    import spark.implicits._
    val span = minutes.toLong * 60L * 1000000L
    val w = Window.partitionBy($"user_id").orderBy($"eus")
      .rangeBetween(-span, 0)
    Tables.events(spark, dir).filter($"ts".isNotNull)
      .select($"event_id", $"user_id", unix_micros($"ts").as("eus"), $"value")
      .withColumn("n_window", count(lit(1)).over(w))
      .withColumn("avg_window",
        sum(dec($"value")).over(w).cast(DoubleType) / $"n_window")
  }

  /** Time-series gap-fill / resample (the "regular grid" step between
    * raw telemetry and any downstream model): for every (user, hour)
    * that saw at least one event, materialize all 60 one-minute slots
    * and carry the latest value at-or-before each slot's end forward
    * (slots before the hour's first event stay null). The grid is
    * BOUNDED by construction — slots exist only for active hours, so
    * output ∝ active (user, hour) pairs, never ∝ the time axis (a
    * min-to-max sequence per user would explode on a sparse year).
    *
    * Plan shape: the as-of union+window trick — grid points and
    * events union into ONE window pass per (user, hour) (a single
    * shuffle), exactly like [[Relational.qAsOf]]; no range join, no
    * correlated lookup per slot. Same-µs event collisions are
    * resolved first (max event_id wins) so the carried value is
    * deterministic. Output aggregates per (user, hour) — fill counts
    * and the decimal-exact sum of carried values. */
  def gapfill(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev0 = Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"user_id", $"ts", $"value", $"event_id",
        date_trunc("hour", $"ts").as("hr"))
    val dedupW = Window.partitionBy($"user_id", $"ts").orderBy($"event_id".desc)
    val ev = ev0.withColumn("rn", row_number().over(dedupW)).filter($"rn" === 1)
      .select($"user_id", $"hr", $"ts".as("t"), lit(0).as("isg"), $"value")
    val slots = ev.select($"user_id", $"hr").distinct()
      .select($"user_id", $"hr", explode(sequence(lit(0), lit(59))).as("m"))
      .select($"user_id", $"hr",
        timestamp_micros(unix_micros($"hr") + ($"m" + 1).cast(LongType) * 60000000L - 1L).as("t"),
        lit(1).as("isg"), lit(null).cast(DoubleType).as("value"))
    val fillW = Window.partitionBy($"user_id", $"hr")
      .orderBy($"t".asc, $"isg".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.unionByName(slots)
      .withColumn("v", last($"value", ignoreNulls = true).over(fillW))
      .filter($"isg" === 1)
      .groupBy($"user_id", $"hr".as("hour_ts"))
      .agg(count(lit(1)).as("n_slots"),
           count($"v").as("n_filled"),
           dsum($"v").as("sum_filled"))
  }

  /** Per-user outlier flags (the telemetry sanity gate a fleet runs
    * before trusting sensor values): an event is anomalous when its
    * value sits more than 2σ from its user's mean. One grouped
    * aggregation (decimal-exact power sums — Welford-style streaming
    * moments are partition-order-dependent, SURVEY §5) broadcast back
    * onto the stream; the 2σ test compares SQUARES ((x−μ)² > 4·var),
    * so no sqrt enters the oracle-compared arithmetic and every
    * double derives from exact sums by deterministic single ops. */
  def anomaly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"event_id", $"user_id", dec($"value").as("x"))
    anomalyFlags(ev, anomalyStats(ev))
  }

  /** The per-user (n, mu, m2, variance) of [[anomaly]] over rows
    * (user_id, x), shared with the streaming twin (StreamAnomaly). */
  def anomalyStats(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    ev.groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        sum($"x").as("s1"),
        sum($"x" * $"x").as("s2"))
      .select($"user_id", $"n",
        (col("s1").cast(DoubleType) / col("n").cast(DoubleType)).as("mu"),
        (col("s2").cast(DoubleType) / col("n").cast(DoubleType)).as("m2"))
      .withColumn("variance", $"m2" - $"mu" * $"mu")
  }

  /** The 2σ flag of every row of `ev` (event_id, user_id, x) against
    * its user's [[anomalyStats]]. */
  def anomalyFlags(ev: DataFrame, stats: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    // no forced broadcast: per-user stats are one row per user, which
    // at fleet scale is itself large — the equi-join shuffles on the
    // same key the aggregation just used (AQE still broadcasts when
    // the stats side turns out small)
    val d = ev("x").cast(DoubleType) - stats("mu")
    ev.join(stats, "user_id")
      .select($"event_id", $"user_id", stats("n"),
        ((d * d) > (lit(4.0d) * stats("variance"))).as("is_anomaly"))
  }

  /** Rate downsampling, "don't send at 5 hz, send at 1 hz"
    * (notes.org): keep the first event per (user, second). */
  def downsample1Hz(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id", $"sec").orderBy($"ts".asc, $"event_id".asc)
    Tables.events(spark, dir)
      .withColumn("sec", date_trunc("second", $"ts"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"event_id", $"user_id", $"sec", $"value")
  }

  /** Periodic beacons, "send gps every 5 minutes" (notes.org):
    * 5-minute tumbling-window aggregates per user. */
  def beacon5Min(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .withColumn("bucket",
        timestamp_millis((floor(unix_millis($"ts") / 300000L) * 300000L).cast(LongType)))
      .groupBy($"user_id", $"bucket")
      .agg(count(lit(1)).as("n_events"),
           dsum($"value").as("sum_value"),
           min($"ts").as("first_ts"),
           max($"ts").as("last_ts"))
  }

  /** Data budget, "shutdown after 100 mb" (notes.org): running
    * transmitted total per user (value ≙ KB), cut off past budget. */
  def dataBudget(spark: SparkSession, dir: String, budgetKb: String = "5000.00"): DataFrame = {
    import spark.implicits._
    val w = byUserTime(spark).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("cum", sum(dec($"value")).over(w))
      .filter($"cum" <= lit(new java.math.BigDecimal(budgetKb))) // exact-decimal cutoff
      .select($"event_id", $"user_id", $"ts", $"cum".cast(DoubleType).as("cum_kb"))
  }

  /** Transmit power budget (`power_budget`), "658 mamps modem
    * transmitting" / "battery life not money is limiting factor"
    * (notes.org): per-device transmit-energy rollup — the one
    * notes.org requirement without its own operator until r9. The
    * modem line runs at 9600 baud (notes.org "modem: 9600?"), 8N1 →
    * 10 bits on the wire per byte → 960 B/s effective, so a device
    * that sent B bytes held the 658 mA transmitter for B/960 seconds;
    * mAh = 658 · tx_s / 3600, reported against a 2000 mAh cell (the
    * battery-as-binding-constraint view). value ≙ KB, the
    * [[dataBudget]] convention.
    *
    * Scale shape: data_budget's single scan with a current×time
    * integrand — one partial-aggregated per-device rollup, bytes stay
    * DECIMAL-exact through the sum, every float derives from the one
    * casted sum in a fixed expression order so the oracle
    * hash-matches bit-for-bit. */
  def powerBudget(spark: SparkSession, dir: String): DataFrame =
    powerRollup(Tables.events(spark, dir))

  /** [[powerBudget]] over events `ev`: one aggregate and its float
    * ladder, shared with the streaming twin (StreamPower). */
  def powerRollup(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    ev.groupBy($"user_id")
      .agg(count(lit(1)).as("n_msgs"),
        sum(dec($"value")).cast(DoubleType).as("kb_sent"))
      .withColumn("tx_seconds", $"kb_sent" * 1000.0d / 960.0d)
      .withColumn("mah_used", $"tx_seconds" * 658.0d / 3600.0d)
      .withColumn("battery_pct", $"mah_used" / 2000.0d * 100.0d)
  }

  /** Inactivity-gap sessionization, "wait for signal for 30 minutes"
    * (notes.org): gap > 30 min starts a new session. */
  def sessionWindows(spark: SparkSession, dir: String, gapSeconds: Long = 1800L): DataFrame = {
    import spark.implicits._
    val w = byUserTime(spark)
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("prev_us", lag(unix_micros($"ts"), 1).over(w))
      .withColumn("new_s",
        when($"prev_us".isNull || unix_micros($"ts") - $"prev_us" > gapSeconds * 1000000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum($"new_s").over(cum).cast(LongType))
      .groupBy($"user_id", $"session_id")
      .agg(count(lit(1)).as("n_events"), min($"ts").as("start_ts"), max($"ts").as("end_ts"))
  }

  /** Top session journeys (`events_journeys`) — the product-analytics
    * census events_paths' bigrams cannot express: the full ordered
    * event-type sequence of each session (first `maxSteps` steps,
    * the standard truncation — a runaway session cannot mint an
    * unbounded journey string), counted across the corpus with its
    * distinct-user reach, top `topK` by frequency.
    *
    * Scale shape: sessionization AND the within-session step rank
    * ride ONE user-keyed window exchange — the step is rn minus the
    * running max of session-start rns over the SAME frame (the
    * queue_drain trick), not a second (user, session)-keyed window.
    * The step filter truncates BEFORE the journey assembly, so the
    * per-session aggregation state is ≤ maxSteps structs; the
    * journey census partial-aggregates; only the census (≤ distinct
    * journeys, never sessions) reaches the final top-k rank. Ties
    * pin to (ts, event_id) within sessions and (count desc, journey
    * asc) in the census. */
  def journeys(spark: SparkSession, dir: String, gapSeconds: Long = 1800L,
      maxSteps: Int = 8, topK: Int = 20): DataFrame = {
    import spark.implicits._
    val w = byUserTime(spark)
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val stepped = Tables.events(spark, dir)
      .filter($"user_id".isNotNull && $"ts".isNotNull && $"event_type".isNotNull)
      .withColumn("t", unix_micros($"ts"))
      .withColumn("prev_us", lag($"t", 1).over(w))
      .withColumn("new_s",
        when($"prev_us".isNull || $"t" - $"prev_us" > gapSeconds * 1000000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum($"new_s").over(cum).cast(LongType))
      .withColumn("rn", row_number().over(w))
      .withColumn("sess_start_rn", max(when($"new_s" === 1, $"rn")).over(cum))
      .withColumn("step", $"rn" - $"sess_start_rn" + 1L)
      .filter($"step" <= maxSteps)
    val perSession = stepped.groupBy($"user_id", $"session_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct($"t", $"event_id", $"event_type"))),
          _.getField("event_type")), ">").as("journey"))
    perSession.groupBy($"journey")
      .agg(count(lit(1)).as("n_sessions"), countDistinct($"user_id").as("n_users"))
      .withColumn("rnk", row_number()
        .over(Window.orderBy($"n_sessions".desc, $"journey".asc)).cast(LongType))
      .filter($"rnk" <= topK)
  }

  /** Max-message-size chunking, "6.4 kb maximum message size" →
    * sendImuChunk (notes.org): split payloads into numbered chunks. */
  def chunkMessages(spark: SparkSession, dir: String, chunkBytes: Long = 6400L): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"event_id", $"user_id",
        round($"value" * 100).cast(LongType).as("nbytes"))
      // a zero-byte payload yields zero chunks; without this guard
      // sequence(0, -1) would generate a DESCENDING [0,-1] sequence
      .filter($"nbytes" > 0L)
      .withColumn("chunk_idx",
        explode(sequence(lit(0L), ceil($"nbytes" / lit(chunkBytes.toDouble)).cast(LongType) - 1)))
      .withColumn("chunk_bytes", least(lit(chunkBytes), $"nbytes" - $"chunk_idx" * chunkBytes))
      .select($"event_id", $"user_id", $"nbytes", $"chunk_idx", $"chunk_bytes")
  }

  /** The receive side of the chunked relay (serial_streaming.lua's
    * lost-message accounting + notes.org sendImuChunk): reassemble
    * chunked messages and detect incomplete ones. Chunk loss is
    * simulated deterministically ((event_id + chunk_idx) % 97 drops)
    * so completeness detection exercises the real failure path —
    * received counts/bytes against the expected chunk count derived
    * from the declared message size. One shuffle on the message key. */
  def chunkReassemble(spark: SparkSession, dir: String,
      chunkBytes: Long = 6400L): DataFrame =
    chunkAssembly(spark, dir, chunkBytes, chunkReceipts(survivingChunks(spark, dir, chunkBytes)))

  /** The chunks the simulated link delivers: (event_id + chunk_idx)
    * % 97 drops. */
  def survivingChunks(spark: SparkSession, dir: String, chunkBytes: Long): DataFrame =
    chunkMessages(spark, dir, chunkBytes)
      .filter((col("event_id") + col("chunk_idx")) % 97 =!= 0L)

  /** The per-message (rcv, rbytes) receipt census of
    * [[chunkReassemble]], shared with the streaming twin
    * (StreamChunks). */
  def chunkReceipts(chunks: DataFrame): DataFrame =
    chunks.groupBy(col("event_id"))
      .agg(count(lit(1)).as("rcv"), sum(col("chunk_bytes")).as("rbytes"))

  /** The expected-message side of [[chunkReassemble]] joined with
    * the `received` receipt census. */
  def chunkAssembly(spark: SparkSession, dir: String, chunkBytes: Long,
      received: DataFrame): DataFrame = {
    import spark.implicits._
    // anchor on the EXPECTED message set, not the received chunks: a
    // message whose every chunk was lost must still appear (with
    // n_received = 0) — that's the case lost-message accounting
    // exists to catch
    val msgs = Tables.events(spark, dir)
      .select($"event_id", $"user_id",
        round($"value" * 100).cast(LongType).as("nbytes"))
      .filter($"nbytes" > 0L)
    msgs.join(received, Seq("event_id"), "left")
      .select($"event_id", $"user_id",
        coalesce($"rcv", lit(0L)).as("n_received"),
        coalesce($"rbytes", lit(0L)).as("bytes_received"),
        ceil($"nbytes" / lit(chunkBytes.toDouble)).cast(LongType).as("n_expected"))
      .withColumn("is_complete", $"n_received" === $"n_expected")
  }

  /** Conversion funnel: each user's first signup, first purchase at
    * or after it, and the exact delay in µs (null when un-converted).
    * Two narrow aggregations + one join — the funnel shape that holds
    * at 100 TB because only (user, ts) pairs ever shuffle. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val signup = ev.filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"ts").as("signup_ts"))
    val purchase = ev.filter($"event_type" === "purchase")
      .join(signup, "user_id")
      .filter($"ts" >= $"signup_ts")
      .groupBy($"user_id").agg(min($"ts").as("purchase_ts"))
    signup.join(purchase, Seq("user_id"), "left")
      .select($"user_id", $"signup_ts", $"purchase_ts",
        (unix_micros($"purchase_ts") - unix_micros($"signup_ts")).as("delay_us"))
  }

  /** Rx/Tx queue accounting (serial_streaming.lua shellCmd:210-262):
    * per stream (event_type): msgs/bytes sent & lost, last-sent /
    * last-lost times. "Lost" ≙ props.k > 50 (overflow marker). */
  /** Proxy service lifecycle gate (transparent_serial_proxy.lua
    * 104-147: start/stop + enable/disable): control events toggle a
    * per-stream forwarding gate — 'signup' enables, 'error' disables,
    * streams start DISABLED until first enabled (the proxy only
    * relays after start) — and every data event is tagged with
    * whether the relay would have forwarded it. One shuffle (hash by
    * user), gate state recovered with a running last-control window —
    * no per-row lookup join. The streaming twin is
    * StreamRelay.statefulGate (flatMapGroupsWithState), parity-tested
    * in ScalaTest. */
  def relayGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tagged = Tables.events(spark, dir)
      .withColumn("ctrl",
        when($"event_type" === "signup", lit(1))
          .when($"event_type" === "error", lit(0)))
    val gate = last($"ctrl", ignoreNulls = true)
      .over(byUserTime(spark).rowsBetween(Window.unboundedPreceding, Window.currentRow))
    tagged
      .withColumn("gate", gate)
      .filter($"ctrl".isNull)
      .select($"event_id", $"user_id", $"ts", $"event_type",
        (coalesce($"gate", lit(0)) === 1).as("forwarded"))
  }

  /** Cohort retention matrix: users grouped by first-signup week,
    * counted distinct per week offset they remain active. Two
    * aggregations and one join, all hashed on user/cohort — the
    * standard retention query shape at any scale. Week offsets are
    * exact (both sides week-truncated, difference divisible by 7). */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val cohorts = ev.filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"ts").as("first_signup"))
      .select($"user_id", date_trunc("week", $"first_signup").as("cohort_week"))
    retentionMatrix(cohorts,
      ev.select($"user_id", date_trunc("week", $"ts").as("act_week")).distinct())
  }

  /** The matrix of [[retention]] from per-user (user_id, cohort_week)
    * `cohorts` and distinct (user_id, act_week) `activity`, shared
    * with the streaming twin (StreamRetention). */
  def retentionMatrix(cohorts: DataFrame, activity: DataFrame): DataFrame = {
    import cohorts.sparkSession.implicits._
    cohorts.join(activity, Seq("user_id"))
      .filter($"act_week" >= $"cohort_week")
      .select($"cohort_week",
        (datediff($"act_week", $"cohort_week") / 7).cast(LongType).as("week_offset"),
        $"user_id")
      .groupBy($"cohort_week", $"week_offset")
      .agg(countDistinct($"user_id").as("n_active"))
  }

  def queueStats(spark: SparkSession, dir: String): DataFrame =
    queueCensus(Tables.events(spark, dir))

  /** [[queueStats]] over events `ev`, shared with the streaming twin
    * (StreamQueueStats). */
  def queueCensus(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    val lost = $"k" > 50
    ev.withColumn("k", regexp_extract($"props", "([0-9]+)", 1).cast(IntegerType))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_msgs"),
        dsum($"value").as("bytes_total"),
        sum(when(lost, 1L).otherwise(0L)).as("n_lost"),
        coalesce(sum(when(lost, dec($"value"))), lit(0)).cast(DoubleType).as("bytes_lost"),
        max(when(!lost, $"ts")).as("last_sent"),
        max(when(lost, $"ts")).as("last_lost"))
  }

  /** Last-touch attribution (`events_attribution`): every purchase
    * attributes its value to the user's most recent prior touchpoint
    * (click/view) within a lookback window, else counts as 'direct' —
    * the standard marketing-analytics rollup, and the as-of-join
    * semantics applied within ONE stream. Same single-shuffle
    * union+window shape as [[relayGate]]: one running
    * last-non-null (type, time) pair per user, the window constraint
    * evaluated at each purchase row, then a partial-aggregated
    * rollup by attributed channel. Revenue sums are decimal-exact. */
  def attribution(spark: SparkSession, dir: String,
      lookbackSecs: Long = 7L * 86400L): DataFrame = {
    import spark.implicits._
    val lookUs = lookbackSecs * 1000000L
    val touch = $"event_type".isin("click", "view")
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts".asc, $"event_id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("t_type", when(touch, $"event_type"))
      .withColumn("t_us", when(touch, unix_micros($"ts")))
      .withColumn("last_t_type", last($"t_type", ignoreNulls = true).over(w))
      .withColumn("last_t_us", last($"t_us", ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase")
      .withColumn("attributed",
        when($"last_t_us".isNotNull && unix_micros($"ts") - $"last_t_us" <= lookUs,
          $"last_t_type").otherwise("direct"))
      .groupBy($"attributed")
      .agg(count(lit(1)).as("n_purchases"),
        dsum($"value").as("attributed_value"))
  }

  /** Multi-touch LINEAR attribution (`events_attribution_linear`) —
    * the complement of [[attribution]]'s last-touch rule: every
    * click/view touch inside the lookback window shares the purchase
    * value equally. Credit is integer basis points with explicit floor
    * semantics (channel_bp = (10000 × n_channel) div n_touches, direct
    * = 10000 when no touch precedes) so the split is deterministic and
    * the value math stays in exact decimal — no float fraction ever
    * differs between engines.
    *
    * The per-purchase touch census is two conditional sums over ONE
    * range-frame window (value-based frame, maintained incrementally —
    * the O(n) sliding shape, not a per-purchase range join), partitioned
    * by user: shuffle ∝ events on user_id, once. At 100 TB the window
    * partitioning is the same per-user timeline every sessionization
    * pass uses — this composes with them in a single exchange. */
  def attributionLinear(spark: SparkSession, dir: String,
      lookbackSecs: Long = 7L * 86400L): DataFrame = {
    import spark.implicits._
    val lookUs = lookbackSecs * 1000000L
    val w = Window.partitionBy($"user_id").orderBy($"t_us")
      .rangeBetween(-lookUs, 0L)
    val purch = Tables.events(spark, dir)
      .select($"user_id", $"event_type", $"value", unix_micros($"ts").as("t_us"))
      .withColumn("n_click",
        sum(when($"event_type" === "click", 1L).otherwise(0L)).over(w))
      .withColumn("n_view",
        sum(when($"event_type" === "view", 1L).otherwise(0L)).over(w))
      .filter($"event_type" === "purchase")
      .withColumn("click_bp", expr(
        "CASE WHEN n_click + n_view > 0 THEN (10000 * n_click) DIV (n_click + n_view) ELSE 0 END"))
      .withColumn("view_bp", expr(
        "CASE WHEN n_click + n_view > 0 THEN (10000 * n_view) DIV (n_click + n_view) ELSE 0 END"))
      .withColumn("direct_bp",
        when($"n_click" + $"n_view" === 0L, lit(10000L)).otherwise(lit(0L)))
    purch
      .select($"value", explode(map(
        lit("click"), $"click_bp",
        lit("view"), $"view_bp",
        lit("direct"), $"direct_bp")).as(Seq("channel", "bp")))
      .filter($"bp" > 0L)
      .groupBy($"channel")
      .agg(count(lit(1)).as("n_purchases"),
        sum(dec($"value") * $"bp").cast(DoubleType).as("value_bp"))
  }

  /** Deterministic A/B comparison (`events_abtest`) — the experiment
    * read-out every event pipeline eventually serves: users assign to
    * variants by id parity (the same stored-assignment-free hashing
    * discipline as sample_split), and the purchase-value contrast
    * reports Welch's t from decimal-exact power sums. All aggregation
    * is exact decimal (order-independent, partial-aggregated — ONE
    * scan, one tiny exchange); the float math is a fixed expression
    * over the two casted sums, so both engines round identically.
    * At 100 TB this is one conditional-sum aggregate however many
    * users exist — no per-variant scan, no shuffle of raw rows beyond
    * the single partial-agg exchange. */
  def abtest(spark: SparkSession, dir: String): DataFrame =
    abtestReport(Tables.events(spark, dir).filter(col("event_type") === "purchase"))

  /** [[abtest]] over purchase events: one global aggregate and the
    * Welch-t projection, shared with the streaming twin
    * (StreamAbtest). */
  def abtestReport(purchases: DataFrame): DataFrame = {
    import purchases.sparkSession.implicits._
    val p = purchases.select((pmod($"user_id", lit(2L)) === 0L).as("in_a"), dec($"value").as("v"))
    abtestFromPowerSums(p.agg(
      sum(when($"in_a", 1L).otherwise(0L)).as("n_a"),
      sum(when(!$"in_a", 1L).otherwise(0L)).as("n_b"),
      sum(when($"in_a", $"v")).cast(DoubleType).as("sum_a"),
      sum(when(!$"in_a", $"v")).cast(DoubleType).as("sum_b"),
      sum(when($"in_a", $"v" * $"v")).cast(DoubleType).as("ss_a"),
      sum(when(!$"in_a", $"v" * $"v")).cast(DoubleType).as("ss_b")))
  }

  /** The Welch-t assembly of [[abtest]]: means and sample variances
    * from the already-deterministic double power sums — one fixed
    * expression shape. `agg` = one row of (n_a, n_b, sum_a, sum_b,
    * ss_a, ss_b). */
  private def abtestFromPowerSums(agg: DataFrame): DataFrame = {
    import agg.sparkSession.implicits._
    val na = $"n_a".cast(DoubleType)
    val nb = $"n_b".cast(DoubleType)
    val meanA = $"sum_a" / na
    val meanB = $"sum_b" / nb
    // sample variances from power sums; Welch's t with its own se
    val varA = ($"ss_a" - $"sum_a" * $"sum_a" / na) / (na - 1.0d)
    val varB = ($"ss_b" - $"sum_b" * $"sum_b" / nb) / (nb - 1.0d)
    agg.select($"n_a", $"n_b",
      meanA.as("mean_a"), meanB.as("mean_b"),
      varA.as("var_a"), varB.as("var_b"),
      ((meanA - meanB) / sqrt(varA / na + varB / nb)).as("t_stat"))
  }

  /** Queue-load fairness audit (`queue_fairness`) — the Gini
    * coefficient of per-device message load within each stream: a
    * relay whose traffic concentrates on a few devices starves the
    * rest, and the Gini is the standard one-number read on that.
    * Integer-exact by the rank formula: with per-device counts x
    * sorted ascending (ties broken by device id) and 1-based rank i,
    * numerator = 2·Σi·xᵢ − (n+1)·Σxᵢ and denominator = n·Σxᵢ — both
    * carried as exact longs, ONE final double division.
    *
    * Shape: the per-(stream, device) census partial-aggregates
    * map-side (exchange ∝ devices, not messages), one window sort per
    * stream assigns ranks, one rollup builds the sums. At 100 TB the
    * window input is the device census, never the message stream. */
  def queueFairness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val census = Tables.events(spark, dir)
      .groupBy($"event_type", $"user_id")
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy($"event_type").orderBy($"x".asc, $"user_id".asc)
    census
      .withColumn("i", row_number().over(w).cast(LongType))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_devices"),
        sum($"x").as("n_msgs"),
        (sum($"i" * $"x") * 2L - (count(lit(1)) + 1L) * sum($"x")).as("gini_num"),
        (count(lit(1)) * sum($"x")).as("gini_den"))
      .withColumn("gini", $"gini_num".cast(DoubleType) / $"gini_den".cast(DoubleType))
  }

  /** rs232 port-config surface (`port_config`) — main.lua:13-20 opens
    * the port with {baud _115200, data_bits _8, parity NONE,
    * stop_bits _1, flow_control OFF}; re-expressed as the fleet-wide
    * config audit a columnar engine runs over a device registry: each
    * device's settings (derived deterministically from its id — the
    * synthetic registry), validated against the rs232 enum sets, with
    * the serial FRAME EFFICIENCY every real deployment sizes links
    * by: bits/frame = 1 start + data_bits + (1 if parity) +
    * stop_bits, effective Bps = baud div bits/frame (integer-exact).
    * One distinct pass over the events table (the device universe)
    * then a tiny rollup — scan-proportional, shuffle ∝ devices. */
  def portConfig(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bauds = array(Seq(9600, 19200, 38400, 57600, 115200).map(lit(_)): _*)
    val parities = array(Seq("NONE", "ODD", "EVEN", "BAD").map(lit): _*)
    // a port config needs a device id — NULL user_id is not a device
    // (mirrored in the oracle's WHERE; without it DISTINCT keeps a
    // NULL row whose derived config nulls out asymmetrically)
    val devices = Tables.events(spark, dir)
      .filter($"user_id".isNotNull)
      .select($"user_id").distinct()
      .select($"user_id".as("device_id"),
        element_at(bauds, (pmod($"user_id", lit(5)) + 1).cast(IntegerType)).as("baud"),
        (lit(5) + pmod($"user_id", lit(4))).as("data_bits"),
        element_at(parities, (pmod($"user_id", lit(4)) + 1).cast(IntegerType)).as("parity"),
        (lit(1) + pmod($"user_id", lit(2))).as("stop_bits"),
        when(pmod($"user_id", lit(2)) === 0, "OFF").otherwise("ON").as("flow_control"))
    devices
      .withColumn("is_valid", $"parity".isin("NONE", "ODD", "EVEN"))
      .withColumn("bits_per_frame",
        lit(1) + $"data_bits" + when($"parity".isin("ODD", "EVEN"), 1).otherwise(0) + $"stop_bits")
      // explicit floor: Spark's double→long cast truncates but
      // DuckDB's rounds, so the bare division cast would diverge on
      // .5+ fractions; floor() is identical in both engines
      .withColumn("eff_bps",
        when($"is_valid", floor($"baud" / $"bits_per_frame").cast(LongType)))
      .groupBy($"baud", $"parity")
      .agg(count(lit(1)).as("n_devices"),
        sum(when($"is_valid", 1L).otherwise(0L)).as("n_valid"),
        min($"eff_bps").as("min_eff_bps"),
        max($"eff_bps").as("max_eff_bps"))
  }

  /** Queue data-lifetime (TTL) accounting — serial_streaming.lua's
    * v2.0.0 "To/From-Mobile data lifetime management"
    * (serial_streaming.lua:16): a queued message that is not sent
    * within `ttlSecs` of its enqueue time is EVICTED BY AGE, a
    * different failure class from transport loss. Model: each event
    * is a message enqueued at `ts` on stream `event_type`; the
    * `k <= 50` marker (same as [[queueStats]]) means the send
    * attempt succeeded. A message's service instant is the earliest
    * successful send at-or-after its enqueue (the queue drains in
    * order, so a lost message would have ridden the next good slot).
    * Classification:
    *   - sent      → delivered (serviced at its own instant);
    *   - lost, and the next good slot is within TTL → transport loss;
    *   - lost, and no good slot within TTL (or ever) → EXPIRED.
    * One window pass per stream (min-over-following on a pre-shuffled
    * sort — per-key state is O(1) running-min computed from the
    * stream tail) then one partial-aggregated rollup; shuffle ∝
    * stream, never pairs, so the shape holds at 100 TB. */
  def queueTtl(spark: SparkSession, dir: String, ttlSecs: Long = 86400L): DataFrame = {
    import spark.implicits._
    val ttlUs = ttlSecs * 1000000L
    val msgs = Tables.events(spark, dir)
      .withColumn("k", regexp_extract($"props", "([0-9]+)", 1).cast(IntegerType))
      .select($"event_type", $"event_id", unix_micros($"ts").as("t_us"), $"value",
        ($"k" <= 50).as("sent"))
    // min-over-the-suffix spelled as a RUNNING min over the REVERSED
    // sort (the r7 queue_latency re-spelling): Spark evaluates an
    // UnboundedPreceding frame with O(1) state per row, where the
    // equivalent (currentRow, unboundedFollowing) frame re-aggregates
    // the whole tail per row — O(n²) per partition, and event_type
    // partitions GROW with the corpus (a low-cardinality key), so the
    // 10x stress run ground a single task for 30+ minutes on exactly
    // this frame. Row set is identical: the suffix of the asc
    // (t_us, event_id) order is the prefix of the desc order.
    val w = Window.partitionBy($"event_type")
      .orderBy($"t_us".desc, $"event_id".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    msgs
      .withColumn("svc_us", min(when($"sent", $"t_us")).over(w))
      .withColumn("outcome",
        when($"sent", "delivered")
          .when($"svc_us".isNull || $"svc_us" - $"t_us" > ttlUs, "expired")
          .otherwise("lost"))
      .groupBy($"event_type")
      .agg(
        sum(when($"outcome" === "delivered", 1L).otherwise(0L)).as("n_delivered"),
        sum(when($"outcome" === "expired", 1L).otherwise(0L)).as("n_expired"),
        sum(when($"outcome" === "lost", 1L).otherwise(0L)).as("n_lost"),
        coalesce(sum(when($"outcome" === "delivered", dec($"value"))), lit(0))
          .cast(DoubleType).as("bytes_delivered"),
        coalesce(sum(when($"outcome" === "expired", dec($"value"))), lit(0))
          .cast(DoubleType).as("bytes_expired"),
        coalesce(sum(when($"outcome" === "lost", dec($"value"))), lit(0))
          .cast(DoubleType).as("bytes_lost"),
        max(when($"outcome" === "lost", $"svc_us" - $"t_us")).as("max_lost_wait_us"))
  }

  /** Queue-depth / backlog profile (`queue_drain`) — the sizing view
    * the reference's queue limits (serial_streaming.lua's Rx/Tx size
    * caps) should be derived FROM: under the [[queueTtl]] service
    * model (every pending message rides the next good slot), the
    * backlog at any instant is the number of arrivals since the last
    * good slot — it saws up between slots and resets at each one.
    * Per stream: peak backlog, the first instant the peak was hit
    * (deterministic min-ts election), the backlog left at stream end,
    * and message volume — exactly what sizes a queue cap so the TTL
    * never fires under normal drain.
    *
    * Exactness & shape: depth_i = rn_i − running-max(rn over good
    * slots) is all-integer from ONE window sort on (t, event_id)
    * (running max is O(1) frame state; the per-stream max/count ride
    * the same partitioning), then a partial-aggregated rollup; the
    * peak instant is min(ts) over peak rows — a unique value however
    * ties order. Shuffle ∝ stream, exchange paid once. */
  def queueDrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val msgs = Tables.events(spark, dir)
      .withColumn("k", regexp_extract($"props", "([0-9]+)", 1).cast(IntegerType))
      .select($"event_type", $"event_id", $"ts", unix_micros($"ts").as("t_us"),
        ($"k" <= 50).as("sent"))
    val w = Window.partitionBy($"event_type")
      .orderBy($"t_us".asc, $"event_id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byStream = Window.partitionBy($"event_type")
    val depths = msgs
      .withColumn("rn", row_number().over(
        byStream.orderBy($"t_us".asc, $"event_id".asc)).cast(LongType))
      // a good slot services everything pending INCLUDING itself, so
      // its own depth is 0; between slots depth counts arrivals since
      .withColumn("depth", $"rn" - coalesce(max(when($"sent", $"rn")).over(w), lit(0L)))
      .withColumn("md", max($"depth").over(byStream))
      .withColumn("cnt", count(lit(1)).over(byStream))
    depths.groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_msgs"),
        max($"depth").as("max_backlog"),
        min(when($"depth" === $"md", $"ts")).as("first_peak_ts"),
        max(when($"rn" === $"cnt", $"depth")).as("final_backlog"))
  }

  /** Queue service-latency percentiles (`queue_latency`) — the
    * resilience view of the [[queueTtl]] queue model: for every
    * enqueued message, how long until the NEXT successful send slot
    * strictly after it — the wait a message would pay if its own
    * attempt failed and it rode the retry path. Per stream the
    * operator reports exact discrete p50/p90/p99/max of that wait —
    * the numbers a deployment uses to size TTLs (queue_ttl's
    * threshold) from observed drain behavior rather than guesswork.
    *
    * Exactness: percentiles are DISCRETE rank statistics — the wait
    * value at row ceil(p·n) under a (wait, event_id) total order.
    * The VALUE at a rank in a multiset is unique no matter how ties
    * order, and the rank thresholds are integer ceil-division
    * ((p·n + q−1) div q), so both engines elect identical elements;
    * no interpolation, no percentile_approx sketch error.
    *
    * Scale shape: two window passes per stream — a running min on
    * the REVERSED time sort (next-send-after = min-over-preceding
    * when time descends, which Spark evaluates incrementally in
    * O(rows); the (1, unboundedFollowing) frame spells the same
    * value but Spark's UnboundedFollowing frame recomputes the
    * aggregate from scratch per row — O(rows²) per stream, measured
    * 50 s vs 0.4 s at sf0.1), then row_number on the wait sort —
    * BOTH hash-partitioned on the same stream key, so the exchange
    * is paid once and only re-sorted. The rollup is one
    * partial-aggregated groupBy; messages after a stream's last good
    * slot have no next slot and are excluded (their wait is
    * unbounded — TTL accounting, queueTtl's job). */
  def queueLatency(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val msgs = Tables.events(spark, dir)
      .withColumn("k", regexp_extract($"props", "([0-9]+)", 1).cast(IntegerType))
      .select($"event_type", $"event_id", unix_micros($"ts").as("t_us"),
        ($"k" <= 50).as("sent"))
    // time DESCENDING: "strictly after me in time" becomes "strictly
    // before me in this order" — an unbounded-PRECEDING frame Spark
    // maintains as running state instead of rescanning the tail
    val wNext = Window.partitionBy($"event_type")
      .orderBy($"t_us".desc, $"event_id".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRank = Window.partitionBy($"event_type")
      .orderBy($"wait_us".asc, $"event_id".asc)
    val waits = msgs
      .withColumn("nxt_us", min(when($"sent", $"t_us")).over(wNext))
      .filter($"nxt_us".isNotNull)
      .withColumn("wait_us", $"nxt_us" - $"t_us")
      .withColumn("rn", row_number().over(wRank).cast(LongType))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"event_type")))
    waits.groupBy($"event_type")
      .agg(
        max($"n").as("n_waits"),
        max(when($"rn" === expr("(n + 1) div 2"), $"wait_us")).as("p50_us"),
        max(when($"rn" === expr("(9 * n + 9) div 10"), $"wait_us")).as("p90_us"),
        max(when($"rn" === expr("(99 * n + 99) div 100"), $"wait_us")).as("p99_us"),
        max($"wait_us").as("max_us"))
  }

  /** Per-EventType status-report filtering — serial_streaming.lua's
    * "enabling/disabling StatusReports based on EventType"
    * (serial_streaming.lua:18, 306-309: the RxDataLost/TxDataLost
    * notifications): a loss event only emits a notification if
    * reports are ENABLED for its event type in the notification
    * config. The config here is a tiny per-EventType dimension
    * (derived deterministically: types with an even code-point sum
    * notify — standing in for the reference's runtime shellCmd
    * toggles) broadcast-joined onto the loss stream, so the gate
    * costs zero shuffles on the fact side beyond the final rollup.
    * Loss marker `k > 50` matches [[queueStats]]. */
  def statusNotify(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .withColumn("k", regexp_extract($"props", "([0-9]+)", 1).cast(IntegerType))
      .select($"event_type", $"event_id", $"ts", $"value", ($"k" > 50).as("is_loss"))
    // code-point sum via the ASCII corpus's byte view: aggregate over
    // the type string once per DISTINCT type, not per event
    val config = ev.select($"event_type").distinct()
      .withColumn("cp_sum", aggregate(
        transform(split($"event_type", ""), c => ascii(c).cast(LongType)),
        lit(0L), (acc, x) => acc + x))
      .select($"event_type", ($"cp_sum" % 2 === 0).as("notify_on"))
    ev.filter($"is_loss")
      .join(broadcast(config), Seq("event_type"))
      .groupBy($"event_type", $"notify_on")
      .agg(
        count(lit(1)).as("n_loss_events"),
        sum(when($"notify_on", 1L).otherwise(0L)).as("n_notified"),
        min(when($"notify_on", $"ts")).as("first_notified"),
        max(when($"notify_on", $"ts")).as("last_notified"))
  }

  /** Delayed status transitions (serial_streaming.lua SetStatus
    * 120-180): a command `SetStatus(enabled, timeout)` with timeout
    * τ > 0 moves the service into the intermediate Paused state and
    * applies the target only at t+τ (the armed timer); a NEWER
    * command disarms the pending timer, so a command applies iff no
    * later command arrives before its apply instant (the timer wins
    * exact ties). τ ≙ (event_id % 4) minutes, so ~1/4 of commands are
    * immediate. Control events: 'signup' → enable, 'error' →
    * disable; streams start disabled. `tauUnitSecs` scales the timer
    * (the reference arms seconds; the synthetic corpus has ~4-day
    * inter-event gaps, so the gate runs day-scale timers to exercise
    * the Paused window on real data).
    *
    * Every DATA event is tagged with the state actually in effect at
    * its event time (`enabled`) and whether a timer was still pending
    * (`pending` — the Paused window). Each command contributes two
    * timeline rows — its ARRIVAL (carrying the apply instant, for
    * pending detection) and, when armed, its APPLY point (carrying
    * the target state) — and two running last-non-null windows
    * recover both facts; the same union+window shape as
    * [[relayGate]], which is the instantaneous (τ=0) special case.
    * The data stream shuffles ONCE (hash by user); commands take one
    * extra narrow pre-pass (the lead window that decides arming) over
    * control rows only, a vanishing fraction of the stream; filters
    * push to the scans (explain-verified). Streaming twin:
    * [[graft.streaming.StreamRelay.statefulDelayed]], parity-tested.
    */
  def statusDelayed(spark: SparkSession, dir: String,
      tauUnitSecs: Long = 60L): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val cmds = ev.filter($"event_type".isin("signup", "error"))
      .select($"user_id", $"event_id",
        when($"event_type" === "signup", 1).otherwise(0).as("target"),
        unix_micros($"ts").as("cmd_us"),
        (unix_micros($"ts") + ($"event_id" % 4) * (tauUnitSecs * 1000000L)).as("apply_us"))
      .withColumn("next_us",
        lead($"cmd_us", 1).over(Window.partitionBy($"user_id")
          .orderBy($"cmd_us".asc, $"event_id".asc)))
    // kind order at equal t_us: timer fires (0), then command arrival
    // (1), then data events (2) — the disarm/tie contract above
    val applies = cmds.filter($"next_us".isNull || $"next_us" >= $"apply_us")
      .select($"user_id", $"apply_us".as("t_us"), lit(0).as("kind"), $"event_id",
        $"target", lit(null).cast(LongType).as("arm_us"),
        lit(null).cast("timestamp").as("ts"))
    val arrivals = cmds
      .select($"user_id", $"cmd_us".as("t_us"), lit(1).as("kind"), $"event_id",
        lit(null).cast(IntegerType).as("target"), $"apply_us".as("arm_us"),
        lit(null).cast("timestamp").as("ts"))
    val data = ev.filter(!$"event_type".isin("signup", "error"))
      .select($"user_id", unix_micros($"ts").as("t_us"), lit(2).as("kind"),
        $"event_id", lit(null).cast(IntegerType).as("target"),
        lit(null).cast(LongType).as("arm_us"), $"ts")
    val w = Window.partitionBy($"user_id")
      .orderBy($"t_us".asc, $"kind".asc, $"event_id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    applies.unionByName(arrivals).unionByName(data)
      .withColumn("st", last($"target", ignoreNulls = true).over(w))
      .withColumn("last_arm_us", last($"arm_us", ignoreNulls = true).over(w))
      .filter($"kind" === 2)
      .select($"event_id", $"user_id", $"ts",
        (coalesce($"st", lit(0)) === 1).as("enabled"),
        (coalesce($"last_arm_us", lit(0L)) > $"t_us").as("pending"))
  }

  /** Config-change classification + restart windows
    * (transparent_serial_proxy.lua onConfigChange 143-167): a change
    * to the `enabled` parameter only toggles the relay gate; ANY
    * other parameter change forces a service restart. Control events
    * 'signup'/'error' are enabled-changes (gate on/off, as in
    * [[relayGate]]); 'purchase' stands in for an other-parameter
    * config change and opens a `restartSecs` restart blackout during
    * which the proxy forwards nothing. Every data event is tagged
    * with the gate state, whether it fell inside a restart window,
    * and the resulting forwarded verdict. Same single-shuffle
    * union+window shape as [[statusDelayed]]. */
  def configGate(spark: SparkSession, dir: String, restartSecs: Long = 30L): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val gateCtrl = $"event_type" === "signup" || $"event_type" === "error"
    val restartCtrl = $"event_type" === "purchase"
    val tagged = ev
      .withColumn("gate_v", when($"event_type" === "signup", 1)
        .when($"event_type" === "error", 0))
      .withColumn("restart_until",
        when(restartCtrl, unix_micros($"ts") + restartSecs * 1000000L))
      // materialized so both window lasts share ONE Window node (an
      // inline expression in orderBy defeats spec-equality matching)
      .withColumn("ctl", when(gateCtrl || restartCtrl, 0).otherwise(1))
    val w = Window.partitionBy($"user_id")
      // control rows sort ahead of data rows at the same instant
      .orderBy($"ts".asc, $"ctl".asc, $"event_id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("gate", last($"gate_v", ignoreNulls = true).over(w))
      .withColumn("blackout_us", last($"restart_until", ignoreNulls = true).over(w))
      .filter(!gateCtrl && !restartCtrl)
      .select($"event_id", $"user_id", $"ts", $"event_type",
        (coalesce($"gate", lit(0)) === 1).as("gate_on"),
        (coalesce($"blackout_us", lit(0L)) > unix_micros($"ts")).as("in_restart"))
      .withColumn("forwarded", $"gate_on" && !$"in_restart")
  }

  /** Status-transition timeline (serial_streaming.lua SetStatus):
    * state = event_type; count transitions between distinct states
    * and total dwell time (µs, exact) in the source state. */
  def statusTransitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = byUserTime(spark)
    Tables.events(spark, dir)
      .withColumn("prev_type", lag($"event_type", 1).over(w))
      .withColumn("next_us", lead(unix_micros($"ts"), 1).over(w))
      .filter($"prev_type".isNotNull && $"prev_type" =!= $"event_type")
      .groupBy($"prev_type", $"event_type")
      .agg(count(lit(1)).as("n_transitions"),
           sum(coalesce($"next_us" - unix_micros($"ts"), lit(0L))).as("total_dwell_us"))
      .select($"prev_type", $"event_type".as("cur_type"), $"n_transitions", $"total_dwell_us")
  }

  /** Event-path transition matrix (the Markov-chain view of user
    * behavior — "what do users do AFTER a signup?"): consecutive
    * event-type bigrams per user via one lead() pass, rolled up to
    * (from_type, to_type) with transition and distinct-user counts.
    *
    * Unlike [[statusTransitions]] (state dwell on DISTINCT state
    * changes), this counts every adjacent pair including self-loops —
    * the navigation-graph edge weights. One sort-window shuffle per
    * user, one partial-aggregated count shuffle; per-user window
    * state is O(1) (lead 1). Distinct users per edge is the only
    * expensive aggregate and it hashes on the edge key. */
  def paths(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = byUserTime(spark)
    Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("to_type", lead($"event_type", 1).over(w))
      .filter($"to_type".isNotNull)
      .groupBy($"event_type".as("from_type"), $"to_type")
      .agg(count(lit(1)).as("n_transitions"),
           countDistinct($"user_id").as("n_users"))
  }

  /** Trailing EWMA with dyadic weights (the telemetry smoothing
    * filter, engine-exact): for each event, the last `taps` values
    * weight as 2^-1, 2^-2, ..., renormalized over the taps actually
    * present. True recursive EWMA is a sequential fold (arrival-order
    * state no engine reproduces bit-for-bit under reordering);
    * truncating at `taps` makes every weight a dyadic rational, so
    * the whole sum runs in INTEGER cents-×-power-of-two arithmetic —
    * num and den are exact longs in any evaluation order and the one
    * IEEE division at the end is deterministic on both engines
    * (2^-8 ≈ 0.4% truncation error — below any telemetry noise
    * floor).
    *
    * Plan shape: `taps` lag() columns share ONE window sort shuffle
    * (per-user O(taps) frame state); everything after is scan-local.
    */
  def ewma(spark: SparkSession, dir: String, taps: Int = 8): DataFrame = {
    import spark.implicits._
    require(taps >= 1 && taps <= 32, "dyadic weights need 1..32 taps")
    val w = byUserTime(spark)
    val base = Tables.events(spark, dir)
      .filter($"ts".isNotNull && $"value".isNotNull)
      .select($"event_id", $"user_id", $"ts",
        round($"value" * 100).cast(LongType).as("cents"))
    // tap j (0 = current row) carries weight 2^(taps-1-j): newest
    // heaviest, halving per step back
    val lagged = base.select(
      ($"event_id" :: $"user_id" :: unix_micros($"ts").as("eus") :: Nil) ++
        (0 until taps).map(j =>
          (if (j == 0) $"cents" else lag($"cents", j).over(w)).as(s"l$j")): _*)
    val num = (0 until taps).map(j =>
      coalesce(col(s"l$j") * lit(1L << (taps - 1 - j)), lit(0L))).reduce(_ + _)
    val den = (0 until taps).map(j =>
      when(col(s"l$j").isNotNull, lit(1L << (taps - 1 - j))).otherwise(lit(0L))).reduce(_ + _)
    val nw = (0 until taps).map(j =>
      when(col(s"l$j").isNotNull, lit(1L)).otherwise(lit(0L))).reduce(_ + _)
    lagged.select($"event_id", $"user_id", $"eus", nw.as("n_window"),
      (num.cast(DoubleType) / den.cast(DoubleType) / lit(100.0d)).as("ewma"))
  }

  /** Sliding-window engagement counts (the DAU/rolling-rate view:
    * "events and distinct users per trailing hour, refreshed every
    * 15 minutes") — the OVERLAPPING-window shape [[beacon5Min]]'s
    * tumbling buckets can't express: each event belongs to exactly
    * window/slide = 4 slots.
    *
    * Uses Spark's native `window(ts, '1 hour', '15 minutes')` —
    * the slot fan-out happens scan-local inside Catalyst's `Expand`
    * (bounded ×4 blowup, no join against a slot table), then counts
    * partial-aggregate map-side into one shuffle keyed on the slot.
    * The distinct-user count per slot is the only exact-distinct
    * cost and it hashes on (slot, user); at 100 TB swap it for the
    * KMV sketch ([[graft.plans.Sketch.kMinValues]]) when ±1% is
    * acceptable. Epoch-aligned slots match the oracle's integer
    * floor arithmetic exactly. */
  def sliding(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .groupBy(window($"ts", "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"),
        dsum($"value").as("sum_value"))
      .select($"w.start".as("window_start"), $"n_events", $"n_users",
        $"sum_value")
  }

  /** Multi-step funnel (the k-step generalization of [[funnel]]):
    * first signup → first subsequent view → first subsequent
    * purchase, per user, each step anchored at the previous step's
    * completion time (a purchase BEFORE the user's first view does
    * not count — step order is the semantics, not mere presence).
    *
    * Scale shape: one filtered min-aggregation per step, each
    * partial-aggregated and hash-joined on user_id — every shuffle in
    * the chain uses the SAME key, so the exchanges after the first
    * reuse partitioning. Step population only shrinks (step k joins
    * step k-1's survivors), so later stages cost less, never more.
    * `reached_step` makes the drop-off report a single groupBy away. */
  def funnel3(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val s1 = ev.filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"ts").as("signup_ts"))
    val s2 = ev.filter($"event_type" === "view")
      .join(s1, "user_id")
      .filter($"ts" >= $"signup_ts")
      .groupBy($"user_id").agg(min($"ts").as("view_ts"))
    val s3 = ev.filter($"event_type" === "purchase")
      .join(s2, "user_id")
      .filter($"ts" >= $"view_ts")
      .groupBy($"user_id").agg(min($"ts").as("purchase_ts"))
    s1.join(s2, Seq("user_id"), "left")
      .join(s3, Seq("user_id"), "left")
      .select($"user_id", $"signup_ts", $"view_ts", $"purchase_ts",
        (when($"purchase_ts".isNotNull, 3L)
          .when($"view_ts".isNotNull, 2L)
          .otherwise(1L)).as("reached_step"),
        (unix_micros($"purchase_ts") - unix_micros($"signup_ts")).as("total_delay_us"))
  }

  /** Linear-interpolation resample (the gap-fill twin of [[gapfill]]
    * for continuous signals: LOCF repeats the last sample, a sensor
    * trend wants the value ON the line between neighbors): every
    * active (user, hour) materializes its 60 minute-slot grid, each
    * slot interpolating between the latest event at-or-before it and
    * the earliest event after it WITHIN that hour — slots missing
    * either neighbor stay null (extrapolation is a lie; [[gapfill]]
    * is the carry-forward contract).
    *
    * Same scale posture as gapfill: the grid is bounded by ACTIVE
    * hours (never the time axis), and the union+window trick gives
    * ONE shuffle per (user, hour) — the prev neighbor from a running
    * `last(ignoreNulls)` ascending, the next neighbor from a
    * `first(ignoreNulls)` over the following frame on the same sort;
    * no range join, no per-slot lookup. Determinism: the interpolant
    * `pv + (nv-pv) * ((t-pt)/(nt-pt))` is a fixed tree of
    * correctly-rounded IEEE ops over exact integer-µs deltas —
    * bit-identical on any engine — and per-hour sums export as
    * `floor(v·1e6)` integers so aggregation order cannot perturb the
    * compared output. Same-µs collisions resolve to max event_id
    * (gapfill's rule). */
  def interp(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev0 = Tables.events(spark, dir)
      .filter($"ts".isNotNull && $"value".isNotNull)
      .select($"user_id", $"ts", $"value", $"event_id",
        date_trunc("hour", $"ts").as("hr"))
    val dedupW = Window.partitionBy($"user_id", $"ts").orderBy($"event_id".desc)
    val ev = ev0.withColumn("rn", row_number().over(dedupW)).filter($"rn" === 1)
      .select($"user_id", $"hr", unix_micros($"ts").as("tus"),
        lit(0).as("isg"), $"value")
    val slots = ev.select($"user_id", $"hr").distinct()
      .select($"user_id", $"hr", explode(sequence(lit(0), lit(59))).as("m"))
      .select($"user_id", $"hr",
        (unix_micros($"hr") + ($"m" + 1).cast(LongType) * 60000000L - 1L).as("tus"),
        lit(1).as("isg"), lit(null).cast(DoubleType).as("value"))
    val ord = Window.partitionBy($"user_id", $"hr").orderBy($"tus".asc, $"isg".asc)
    val prevF = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nextF = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val frac = ($"tus" - $"pt").cast(DoubleType) / ($"nt" - $"pt").cast(DoubleType)
    // an event exactly ON the slot needs no next neighbor; nt > tus >= pt
    // otherwise (same-time events sort BEFORE their slot), so nt - pt > 0
    val iv = when($"pt" === $"tus", $"pv")
      .when($"pt".isNotNull && $"nt".isNotNull, $"pv" + ($"nv" - $"pv") * frac)
    ev.unionByName(slots)
      .withColumn("pv", last($"value", ignoreNulls = true).over(prevF))
      .withColumn("pt", last(when($"isg" === 0, $"tus"), ignoreNulls = true).over(prevF))
      .withColumn("nv", first($"value", ignoreNulls = true).over(nextF))
      .withColumn("nt", first(when($"isg" === 0, $"tus"), ignoreNulls = true).over(nextF))
      .filter($"isg" === 1)
      .withColumn("interp", iv)
      .groupBy($"user_id", $"hr".as("hour_ts"))
      .agg(count(lit(1)).as("n_slots"),
        count($"interp").as("n_interp"),
        sum(floor($"interp" * 1000000.0d).cast(LongType)).as("interp_micro_sum"))
  }

  /** Activity heatmap (the hour-of-day × day-of-week usage calendar
    * every fleet dashboard opens with): one partial-aggregated
    * shuffle sized by the 168 occupied cells, never row count. The
    * calendar fields come from INTEGER µs arithmetic — day index and
    * second-of-day by integer division, weekday as (days + 4) mod 7
    * since 1970-01-01 was a Thursday (0 = Sunday) — because native
    * dayofweek()/extract(dow) numbering differs across engines
    * (Spark counts 1 = Sunday, DuckDB 0 = Sunday); the integer form
    * is engine-exact by construction. */
  def heatmap(spark: SparkSession, dir: String): DataFrame =
    heatmapCensus(Tables.events(spark, dir))

  /** [[heatmap]] over events `ev`, shared with the streaming twin
    * (StreamHeatmap). */
  def heatmapCensus(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    ev.filter($"ts".isNotNull)
      .select(expr("unix_micros(ts) div 86400000000").as("days"),
        expr("(unix_micros(ts) % 86400000000) div 3600000000").as("hour"),
        $"value")
      .groupBy(pmod($"days" + 4L, lit(7L)).as("dow"), $"hour")
      .agg(count(lit(1)).as("n_events"), dsum($"value").as("sum_value"))
  }

  /** Robust per-user outlier flags via Median Absolute Deviation —
    * the rank-based twin of [[anomaly]]'s 2σ gate: mean/σ are
    * themselves dragged by the outliers they're meant to catch, while
    * the median and MAD ignore any minority of wild values. An event
    * is an outlier when |value − median| > 3·MAD.
    *
    * Both medians are DISCRETE rank statistics (the element at
    * ceil(n/2) under a (value, event_id) total order — deterministic
    * under ties, no averaging of middle pairs, so no arithmetic the
    * engines could round differently). Plan: two window passes + two
    * joins, every one of them hash-partitioned on user_id, so the
    * exchange is paid ONCE and reused; per-task state is one user's
    * events (sort within partition), never the fleet. The flag's only
    * float ops are one subtraction, one abs, one multiply — fixed
    * tree, engine-exact. */
  def madOutliers(spark: SparkSession, dir: String, k: Double = 3.0d): DataFrame = {
    import spark.implicits._
    // user_id non-null too: a MAD series needs a device; the oracle's
    // USING(user_id) joins drop the NULL group while a window keeps
    // it — exclude it explicitly on both sides
    val ev = Tables.events(spark, dir)
      .filter($"value".isNotNull && $"user_id".isNotNull)
      .select($"event_id", $"user_id", $"value")
    // the medians are WINDOW COLUMNS, not join branches: the element
    // at the median rank broadcasts to its whole partition through a
    // full-frame max(when(rn = ceil(n/2), v)) over the SAME user
    // partitioning — so the operator is ONE scan + ONE exchange +
    // four window passes (two sorts), no joins, no re-scan; a
    // branch-and-join formulation reads the fact table four times
    // because column pruning makes the shared subtrees unequal
    val byUser = Window.partitionBy($"user_id")
    val w1 = byUser.orderBy($"value".asc, $"event_id".asc)
    val flagged = ev
      .withColumn("rn", row_number().over(w1))
      .withColumn("n", count(lit(1)).over(byUser))
      .withColumn("med",
        max(when($"rn" === ceil($"n" * 0.5d), $"value")).over(byUser))
      .withColumn("dev", abs($"value" - $"med"))
      .withColumn("rn2",
        row_number().over(byUser.orderBy($"dev".asc, $"event_id".asc)))
      .withColumn("mad",
        max(when($"rn2" === ceil($"n" * 0.5d), $"dev")).over(byUser))
    flagged.select($"event_id", $"user_id",
      ($"dev" > lit(k) * $"mad").as("is_outlier"))
  }

  /** Deterministic rate capping (`events_ratecap`): keep the first k
    * events per (user, day) — the ingestion throttle every telemetry
    * pipeline applies to a chatty device. Reuses the bounded-heap
    * aggregate (graft.plans.TopKPairs) with value = −unix_micros, so
    * "earliest k" is elected map-side with at most k (ts, id) pairs
    * per aggregation buffer — the ROW_NUMBER formulation shuffles and
    * sorts EVERY event of the hot device it exists to throttle, which
    * is the skew it should be removing. Micros fit a double exactly
    * (< 2^53) and event_id breaks equal-timestamp ties ascending,
    * matching the oracle's ORDER BY ts, event_id. n_total rides the
    * same aggregation to show how much the cap discarded. */
  def rateCap(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    rateCapAssembly(rateCapCensus(Tables.events(spark, dir), k))

  /** The per-(user, day) census of [[rateCap]] over events `ev`: the
    * bounded keeper election and the day's total, shared with the
    * streaming twin (StreamRatecap). */
  def rateCapCensus(ev: DataFrame, k: Int): DataFrame = {
    import ev.sparkSession.implicits._
    ev.withColumn("day", date_trunc("day", $"ts"))
      .groupBy($"user_id", $"day")
      .agg(graft.plans.Sketch.topKPairs(
          (-unix_micros($"ts")).cast(DoubleType), $"event_id", k).as("top"),
        count(lit(1)).as("n_total"))
  }

  /** The post-census assembly of [[rateCap]], shared with the
    * streaming twin: one ranked row per keeper. */
  def rateCapAssembly(census: DataFrame): DataFrame = {
    import census.sparkSession.implicits._
    census.select($"user_id", $"day", $"n_total", posexplode($"top"))
      .select($"user_id", $"day", ($"pos" + 1).cast(LongType).as("rnk"),
        $"col.key".as("event_id"), $"n_total")
  }

  /** OHLC resampling (`ts_ohlc`): per (event_type, day) candle —
    * open/high/low/close of `value` plus the day-over-day close
    * delta. The financial downsample, but equally the shape of any
    * "first/last/extremes per bucket" telemetry rollup.
    *
    * Scale shape: open and close are `min_by`/`max_by` over exact
    * integer µs — ordinary aggregates that partial-aggregate
    * map-side, so the raw stream is reduced to one candidate row per
    * (type, day, split) before the shuffle; no per-bucket sort ever
    * happens. (event_type, ts) is unique in this corpus, so the
    * first/last election is tie-free. The day-over-day delta is a
    * `lag` window over the RESAMPLED series — #types × #days rows,
    * dimension-sized however large the raw stream was. Close deltas
    * subtract two exact stored doubles: deterministic, no cross-row
    * float summation. */
  def ohlc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // value-less ticks carry no price: excluded on both sides —
    // Spark's max_by would surface their NULL while DuckDB's arg_max
    // skips NULL args, so keeping them diverges open/close
    val candles = Tables.events(spark, dir)
      .filter($"value".isNotNull)
      .groupBy($"event_type", date_trunc("day", $"ts").as("day"))
      .agg(
        min_by($"value", unix_micros($"ts")).as("open"),
        max($"value").as("high"),
        min($"value").as("low"),
        max_by($"value", unix_micros($"ts")).as("close"),
        count(lit(1)).as("n_events"))
    val bySeries = Window.partitionBy($"event_type").orderBy($"day")
    candles.withColumn("close_chg",
      $"close" - lag($"close", 1).over(bySeries))
  }

  /** M4 time-series downsampling (`ts_m4`): per (series, time bucket)
    * keep exactly the four points a pixel column of a line chart can
    * show — first, last, min, max (Jugel et al., VLDB 2014) — the
    * standard dashboard/preview reduction that preserves the visual
    * envelope of the series at any zoom level while shrinking a 100 TB
    * stream to (#series × #buckets × 4) values.
    *
    * One partial-aggregated shuffle on (user, bucket): min/max
    * combine trivially and first/last elect via min_by/max_by on the
    * event µs timestamp, so the map side already reduces each input
    * split to four candidates per open bucket. Bucket ids come from
    * integer `div` on µs (double division drifts at the 2^52 mantissa
    * edge); (user, ts) is unique in the corpus, making the arg-min
    * elections deterministic on both engines (the ohlc contract). */
  def m4(spark: SparkSession, dir: String, bucketSecs: Long = 21600L): DataFrame = {
    import spark.implicits._
    val bucketUs = bucketSecs * 1000000L
    // value IS NOT NULL: the ohlc arg_min/arg_max null contract
    Tables.events(spark, dir)
      .filter($"value".isNotNull)
      .withColumn("tus", unix_micros($"ts"))
      .groupBy($"user_id",
        timestamp_micros(expr(s"(tus div $bucketUs) * $bucketUs")).as("bucket"))
      .agg(count(lit(1)).as("n_points"),
        min_by($"value", $"tus").as("v_first"),
        max_by($"value", $"tus").as("v_last"),
        min($"value").as("v_min"),
        max($"value").as("v_max"))
  }

  /** Event-type co-occurrence lift (`events_basket`): market-basket
    * association over the event stream — for every unordered pair of
    * event types, how many users exhibit BOTH, and the lift
    * n_ab·N / (n_a·n_b) that says whether the pair co-occurs more
    * than independence predicts (the cross-sell / feature-bundling
    * signal, and on telemetry the "do these two alarms fire on the
    * same fleet" diagnostic).
    *
    * Scale shape: the raw stream collapses to DISTINCT (user, type)
    * map-side first — the self-join runs on at most #users × #types
    * rows, and each user contributes ≤ C(#types, 2) pairs, a
    * constant, so the pair shuffle is ∝ users, never events². Type
    * marginals and the user total are dimension-sized aggregates
    * broadcast back in. Lift is ONE double division of two exact
    * integer products; counts stay integers throughout.
    */
  def basket(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    basketAssembly(Tables.events(spark, dir)
      .select($"user_id", $"event_type").distinct())
  }

  /** The post-distinct assembly of [[basket]], shared with the
    * streaming twin (StreamBasket): marginals, pair self-join and
    * lift over the DISTINCT (user, type) cell table — at most
    * #users × #types rows however large the raw stream. */
  def basketAssembly(ut: DataFrame): DataFrame = {
    import ut.sparkSession.implicits._
    val marginals = ut.groupBy($"event_type").agg(count(lit(1)).as("n"))
    val nUsers = ut.groupBy().agg(countDistinct($"user_id").as("n_users"))
    val pairs = ut.as("a")
      .join(ut.as("b"),
        $"a.user_id" === $"b.user_id" && $"a.event_type" < $"b.event_type")
      .groupBy($"a.event_type".as("type_a"), $"b.event_type".as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(marginals.select($"event_type".as("type_a"), $"n".as("n_a"))), Seq("type_a"))
      .join(broadcast(marginals.select($"event_type".as("type_b"), $"n".as("n_b"))), Seq("type_b"))
      .crossJoin(broadcast(nUsers))
      .select($"type_a", $"type_b", $"n_a", $"n_b", $"n_ab",
        (($"n_ab" * $"n_users").cast(DoubleType) / ($"n_a" * $"n_b")).as("lift"))
  }

  /** Seasonal-naive forecast backtest (`ts_forecast`): the capacity-
    * planning baseline every telemetry deployment runs first — predict
    * each (event_type, day)'s event volume as the SAME WEEKDAY one
    * week earlier, and report the absolute error where both sides
    * exist. A model that can't beat seasonal-naive isn't worth its
    * serving cost; this operator computes the bar.
    *
    * Exactness: the series is daily COUNTS (integers), the forecast
    * aligns by CALENDAR — a self-join on (type, day − 7 days) in
    * integer µs, not a 7-row lag, which silently misaligns the
    * moment one day has no events — and the error is integer
    * |actual − forecast|. Calendar bucketing is date_trunc under the
    * UTC session zone, identical in both engines.
    *
    * Scale shape: the raw stream partial-aggregates to (type, day)
    * map-side — the shuffle carries #types × #days rows, never
    * events — and the forecast join runs dimension-frame against
    * dimension-frame. At 100 TB the join input is still just the
    * calendar. */
  def forecast(spark: SparkSession, dir: String): DataFrame =
    forecastAssembly(forecastCensus(Tables.events(spark, dir)))

  /** The (event_type, day_us, n_events) census of [[forecast]] over
    * events `ev`, shared with the streaming twin (StreamForecast). */
  def forecastCensus(ev: DataFrame): DataFrame =
    ev.groupBy(col("event_type"), unix_micros(date_trunc("day", col("ts"))).as("day_us"))
      .agg(count(lit(1)).as("n_events"))

  /** The post-census assembly of [[forecast]], shared with the
    * streaming twin (StreamForecast): the calendar-aligned
    * day−7 self-join over the (stream, day, count) census —
    * ∝ occupied days, never events. */
  def forecastAssembly(daily: DataFrame): DataFrame = {
    import daily.sparkSession.implicits._
    val dayUs = 86400000000L
    val prior = daily.select($"event_type",
      ($"day_us" + lit(7L * dayUs)).as("day_us"), $"n_events".as("forecast"))
    daily.join(prior, Seq("event_type", "day_us"), "left")
      .select($"event_type", timestamp_micros($"day_us").as("day"),
        $"n_events", $"forecast",
        when($"forecast".isNotNull, abs($"n_events" - $"forecast")).as("abs_err"))
  }

  /** Debounced threshold alerting (`events_alerts`) — the paging rule
    * every monitoring pipeline ends in: a reading over its stream's
    * threshold raises an alert, but repeats inside the cooldown are
    * suppressed (quiet-period debounce: an alert emits only when no
    * over-threshold reading preceded it within `cooldownSecs` on the
    * same (stream, device) timeline). Thresholds come from a
    * deterministic per-stream config rule (the port_config pattern —
    * a stand-in for a broadcast rules dimension).
    *
    * Scale shape: the threshold predicate is scan-local and pushes
    * the corpus down to the alert subset BEFORE the only exchange;
    * the debounce is one lag over the (stream, device) window —
    * O(1) state per timeline, and the window input is alerts, never
    * the full stream. Ties pin to (ts, event_id), the engine's
    * standard total order. */
  def alerts(spark: SparkSession, dir: String, cooldownSecs: Long = 1800L): DataFrame = {
    import spark.implicits._
    val coolUs = cooldownSecs * 1000000L
    val thr = (length($"event_type").cast(LongType) * 7L) % 40L + 30L
    val w = Window.partitionBy($"event_type", $"user_id")
      .orderBy($"t_us".asc, $"event_id".asc)
    Tables.events(spark, dir)
      .filter($"value" > thr.cast(DoubleType))
      .select($"event_id", $"user_id", $"event_type", $"value",
        thr.as("threshold"), unix_micros($"ts").as("t_us"))
      .withColumn("prev_us", lag($"t_us", 1).over(w))
      .select($"event_id", $"user_id", $"event_type", $"value", $"threshold", $"t_us",
        ($"prev_us".isNull || $"t_us" - $"prev_us" > coolUs).as("emitted"))
  }

  /** Arrival burstiness audit (`events_dispersion`) — the
    * variance-to-mean ratio of hourly volumes per stream, the
    * standard over-dispersion test against a Poisson arrival model:
    * VMR ≈ 1 is memoryless traffic, VMR ≫ 1 is bursty (batch
    * uploads, retry storms) and tells the capacity planner that peak
    * provisioning, not mean provisioning, is the binding constraint.
    *
    * Gap hours are zero observations, but unlike [[xcorr]] no dense
    * calendar is materialized: zeros contribute nothing to Σx or Σx²,
    * so only the global hour-range cardinality n enters the formula —
    * population variance cross-multiplied to integers, VMR =
    * (n·Σx² − (Σx)²) / (n·Σx), carried as exact longs with one final
    * double division and the over-dispersion verdict as an INTEGER
    * comparison (num > den ⟺ VMR > 1), so the flag can never round
    * across engines.
    *
    * Scale: one partial-aggregated (stream, hour) census — the only
    * corpus-sized pass — then a per-stream rollup of two sums; the
    * hour bounds are a one-row driver reduction. */
  def dispersion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // pmod-floor hour bucket: the DuckDB oracle's `//` floors, Spark
    // DIV truncates toward zero — they'd disagree on pre-1970 ts
    val counts = Tables.events(spark, dir)
      .select($"event_type", expr("(unix_micros(ts) - pmod(unix_micros(ts), 3600000000)) DIV 3600000000").as("h"))
      .groupBy($"event_type", $"h").agg(count(lit(1)).as("x"))
    dispersionFromCounts(spark, counts)
  }

  /** The post-census assembly of [[dispersion]], shared with the
    * streaming twin (StreamXcorr.streamedDispersion): everything here
    * reduces (event_type, h, x) hourly counts — ∝ types × hours,
    * independent of event volume. */
  def dispersionFromCounts(spark: SparkSession, counts: DataFrame,
      bounds: Option[(Long, Long)] = None): DataFrame = {
    import spark.implicits._
    // pre-computed (lo, hi) hour bounds skip the min/max head job —
    // the streaming twin already pays one census-integrity pass that
    // yields them (StreamXcorr, r14)
    val (lo, hi) = bounds.getOrElse {
      val b = counts.agg(min($"h"), max($"h")).head()
      if (b.isNullAt(0)) return spark.emptyDataFrame
      (b.getLong(0), b.getLong(1))
    }
    val n = hi - lo + 1L
    counts.groupBy($"event_type")
      .agg(sum($"x").as("sx"), sum($"x" * $"x").as("sxx"))
      .select($"event_type", lit(n).as("n_hours"), $"sx", $"sxx",
        (lit(n) * $"sxx" - $"sx" * $"sx").as("vmr_num"),
        (lit(n) * $"sx").as("vmr_den"),
        ((lit(n) * $"sxx" - $"sx" * $"sx").cast(DoubleType) /
          (lit(n) * $"sx").cast(DoubleType)).as("vmr"),
        (lit(n) * $"sxx" - $"sx" * $"sx" > lit(n) * $"sx").as("over_dispersed"))
  }

  /** Lagged cross-correlation between event streams (`ts_xcorr`) —
    * the "which stream leads which" diagnostic behind alerting
    * fan-out and capacity coupling: hourly volumes of every stream
    * pair correlate at lags 0..maxLag, so a spike in stream A that
    * reappears in stream B two hours later shows as the (A, B, 2)
    * peak. The inter-series complement of [[autocorr]].
    *
    * Volumes gap-fill to a dense hourly calendar first (a missing
    * hour IS a zero observation — correlating only co-present hours
    * silently biases r upward), built as types × hour-range, never by
    * scanning raw events twice. Pearson r assembles from six INTEGER
    * power sums (volumes are counts, so everything up to the final
    * num/den is exact long arithmetic — no decimal needed), with one
    * final double division + sqrt shared shape with the oracle.
    *
    * Scale: raw events partial-aggregate to (type, hour) map-side —
    * the only corpus-sized pass; the checkpointed grid (types × hours
    * — thousands of rows per year at any corpus size) drives the
    * lag join, so shuffle after the census is ∝ types² × hours ×
    * lags, independent of event volume. */
  def xcorr(spark: SparkSession, dir: String, maxLag: Int = 3): DataFrame = {
    import spark.implicits._
    val counts = Tables.events(spark, dir)
      .select($"event_type", expr("(unix_micros(ts) - pmod(unix_micros(ts), 3600000000)) DIV 3600000000").as("h"))
      .groupBy($"event_type", $"h").agg(count(lit(1)).as("n"))
    xcorrFromCounts(spark, counts, maxLag)
  }

  /** The post-census assembly of [[xcorr]], shared with the streaming
    * twin (StreamXcorr): dense calendar → pairwise lag join → integer
    * power sums. `counts` = (event_type, h, n) final hourly counts —
    * everything here is ∝ types² × hours × lags, independent of
    * event volume. */
  def xcorrFromCounts(spark: SparkSession, counts: DataFrame,
      maxLag: Int, bounds: Option[(Long, Long)] = None): DataFrame = {
    import spark.implicits._
    // pre-computed (lo, hi) hour bounds skip the min/max head job —
    // see dispersionFromCounts (r14)
    val (lo, hi) = bounds.getOrElse {
      val b = counts.agg(min($"h"), max($"h")).head()
      if (b.isNullAt(0)) return spark.emptyDataFrame
      (b.getLong(0), b.getLong(1))
    }
    // dense calendar: consumed by both sides of the lag join —
    // checkpoint so the census aggregation runs once
    val grid = counts.select($"event_type").distinct()
      .crossJoin(spark.range(lo, hi + 1).select($"id".as("h")))
      .join(counts, Seq("event_type", "h"), "left")
      .select($"event_type", $"h", coalesce($"n", lit(0L)).as("n"))
      .localCheckpoint()
    val stats = grid.as("a")
      .crossJoin(spark.range(0L, maxLag + 1L).select($"id".as("lag_h")))
      .join(grid.as("b"),
        $"b.h" === $"a.h" + $"lag_h" && $"b.event_type" > $"a.event_type")
      .groupBy($"a.event_type".as("type_a"), $"b.event_type".as("type_b"), $"lag_h")
      .agg(count(lit(1)).as("n_hours"),
        sum($"a.n").as("sx"), sum($"b.n").as("sy"),
        sum($"a.n" * $"b.n").as("sxy"),
        sum($"a.n" * $"a.n").as("sxx"),
        sum($"b.n" * $"b.n").as("syy"))
    val num = $"n_hours" * $"sxy" - $"sx" * $"sy"
    val denX = $"n_hours" * $"sxx" - $"sx" * $"sx"
    val denY = $"n_hours" * $"syy" - $"sy" * $"sy"
    stats.select($"type_a", $"type_b", $"lag_h", $"n_hours",
      num.as("num"), denX.as("den_x"), denY.as("den_y"),
      when(denX > 0L && denY > 0L,
        num.cast(DoubleType) /
          sqrt(denX.cast(DoubleType) * denY.cast(DoubleType)))
        .otherwise(lit(0.0d)).as("xcorr"))
  }

  /** Lag-1 autocorrelation per series (`ts_autocorr`): how much does
    * each event-type's value stream remember its previous sample —
    * the first diagnostic a telemetry pipeline runs before choosing
    * a smoothing filter (white noise → EWMA pointless; high ρ₁ →
    * downsampling is nearly free).
    *
    * Scale shape: one window shuffle per series builds the (prev,
    * cur) pairs, then everything reduces through ordinary aggregates
    * of DECIMAL power sums — exact under any partition order, so the
    * distributed sums are bit-identical to the sequential oracle.
    * The ρ₁ assembly runs in double on six already-deterministic
    * scalars (one expression, same literal shape both engines);
    * `sqrt` is IEEE-correctly-rounded everywhere. Per-series state
    * after the window is O(1): six sums, however long the stream. */
  def autocorr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"ts".asc, $"event_id".asc)
    val pairs = Tables.events(spark, dir)
      .select($"event_type", $"ts", $"event_id", dec($"value").as("y"))
      .withColumn("x", lag($"y", 1).over(w))
      .filter($"x".isNotNull)
    autocorrAssembly(pairs)
  }

  /** The post-pairing assembly of [[autocorr]], shared with the
    * streaming twin (StreamAutocorr): decimal-exact power sums over
    * the (stream, x, y) lag pairs, one partial-aggregated shuffle,
    * Pearson from a fixed IEEE expression tree. `pairs` must carry
    * x non-null (the batch filter); y may be null — each sum skips
    * its own nulls, exactly the window shape's semantics. */
  def autocorrAssembly(pairs: DataFrame): DataFrame = {
    import pairs.sparkSession.implicits._
    pairs.groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum($"x").cast(DoubleType).as("sx"),
        sum($"y").cast(DoubleType).as("sy"),
        sum($"x" * $"y").cast(DoubleType).as("sxy"),
        sum($"x" * $"x").cast(DoubleType).as("sxx"),
        sum($"y" * $"y").cast(DoubleType).as("syy"))
      .withColumn("autocorr",
        ($"n_pairs" * $"sxy" - $"sx" * $"sy") /
          (sqrt($"n_pairs" * $"sxx" - $"sx" * $"sx") *
           sqrt($"n_pairs" * $"syy" - $"sy" * $"sy")))
      .select($"event_type", $"n_pairs", $"autocorr")
  }

  /** Longest consecutive-day activity streak per user
    * (`events_streak`): the classic gaps-and-islands resample —
    * engagement pipelines gate retention cohorts on it.
    *
    * Scale shape: the raw stream collapses to distinct (user, day)
    * FIRST (partial-aggregate dedup map-side — the shuffle carries
    * at most #users × #days rows, not the event stream), then the
    * island id is `day − row_number()` over a window on the already
    * day-sized series. Streak stats are ordinary aggregates; the
    * best-streak election is a deterministic (len DESC, start ASC)
    * rank. All integer arithmetic — nothing for an oracle to
    * disagree about. */
  def streaks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val days = Tables.events(spark, dir)
      .select($"user_id",
        datediff(to_date($"ts"), lit("1970-01-01").cast("date")).cast(LongType).as("day"))
      .distinct()
    val byUser = Window.partitionBy($"user_id").orderBy($"day".asc)
    val islands = days
      .withColumn("grp", $"day" - row_number().over(byUser))
      .groupBy($"user_id", $"grp")
      .agg(count(lit(1)).as("len"), min($"day").as("start_day"), max($"day").as("end_day"))
    val best = Window.partitionBy($"user_id").orderBy($"len".desc, $"start_day".asc)
    islands
      .withColumn("n_active_days", sum($"len").over(Window.partitionBy($"user_id")))
      .withColumn("n_streaks", count(lit(1)).over(Window.partitionBy($"user_id")))
      .withColumn("rk", row_number().over(best))
      .filter($"rk" === 1)
      .select($"user_id", $"n_active_days", $"n_streaks",
        $"len".as("best_len"),
        date_add(to_date(lit("1970-01-01")), $"start_day".cast(IntegerType)).as("best_start"))
  }

  /** Cumulative-distinct growth curve (`q_running_distinct`): per
    * day, how many users were EVER seen up to that day vs active
    * that day — the corpus-growth / MAU-vs-reach view. A windowed
    * COUNT(DISTINCT) is unevaluable in Spark and quadratic anywhere;
    * the first-seen formulation is the scale answer.
    *
    * Scale shape: distinct (user, day) map-side first; each user's
    * first day is one `min` aggregate; the growth curve is a running
    * sum over the DAY-sized series (a few hundred rows at any data
    * scale — the single-partition window is on dimension-sized data,
    * not the stream). Integers only. */
  def runningDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val userDays = Tables.events(spark, dir)
      .select($"user_id", to_date($"ts").as("day")).distinct()
    val active = userDays.groupBy($"day").agg(count(lit(1)).as("n_active_users"))
    val firstSeen = userDays.groupBy($"user_id").agg(min($"day").as("day"))
      .groupBy($"day").agg(count(lit(1)).as("n_new_users"))
    val byDay = Window.orderBy($"day".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    active.join(firstSeen, Seq("day"), "left")
      .na.fill(0L, Seq("n_new_users"))
      .withColumn("cum_distinct_users", sum($"n_new_users").over(byDay))
      .select($"day", $"n_active_users", $"n_new_users", $"cum_distinct_users")
  }

  /** First-order Markov transition matrix over per-user event-type
    * sequences (`events_markov`): P(next = j | current = i), the
    * behavioral-model summary `events_paths` trigrams feed — and the
    * generator for synthetic session traffic.
    *
    * Scale shape: one window shuffle per user builds the bigrams
    * (same partitioning every sequence op here reuses), then the
    * matrix is a #states² aggregate — tiny however big the stream.
    * Probabilities divide two exact longs per row (row-total via a
    * window over the state-sized matrix, not the stream). */
  def markov(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = byUserTime(spark)
    val bigrams = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type".as("to_state"))
      .withColumn("from_state", lag($"to_state", 1).over(w))
      .filter($"from_state".isNotNull)
    markovAssembly(bigrams.groupBy($"from_state", $"to_state")
      .agg(count(lit(1)).as("n_transitions")))
  }

  /** The post-census assembly of [[markov]], shared with the
    * streaming twin (StreamMarkov): row totals, transition
    * probabilities, per-from rank — everything here is ∝ the
    * transition-matrix dimension (types²), independent of event
    * volume. `counts` = (from_state, to_state, n_transitions). */
  def markovAssembly(counts: DataFrame): DataFrame = {
    import counts.sparkSession.implicits._
    val byFrom = Window.partitionBy($"from_state")
    counts
      .withColumn("row_total", sum($"n_transitions").over(byFrom))
      .withColumn("p", $"n_transitions".cast(DoubleType) / $"row_total".cast(DoubleType))
      .withColumn("rnk",
        row_number().over(byFrom.orderBy($"n_transitions".desc, $"to_state".asc))
          .cast(LongType))
  }

  /** Mean-shift changepoint candidates per series (`ts_changepoint`):
    * at each event, compare the trailing-k window mean against the
    * leading-k window mean; flag jumps larger than `mult` × the
    * series' own average absolute jump — the level-shift detector a
    * telemetry fleet runs before alerting on sensor recalibration.
    *
    * Scale shape: both ROWS frames (trailing [-k,-1], leading
    * [0,k-1]) share one window sort per series — Catalyst evaluates
    * them in a single Window stage with O(k) frame state. The
    * adaptive threshold is a SECOND window over the same
    * (partition, order) spec — Catalyst sees the sort is already
    * satisfied and stacks it on the same exchange, so the stream is
    * shuffled and sorted exactly once (an aggregate-and-join-back
    * would re-execute the whole window subtree on the second
    * branch). The threshold sums the diffs cast to decimal —
    * cross-row double summation would be partition-order-dependent;
    * decimal is exact — and every surviving double op is a per-row
    * expression with one evaluation shape. */
  def changepoints(spark: SparkSession, dir: String, k: Int = 8, mult: Double = 3.0): DataFrame = {
    import spark.implicits._
    val ord = Window.partitionBy($"event_type").orderBy($"ts".asc, $"event_id".asc)
    val pre = ord.rowsBetween(-k, -1)
    val post = ord.rowsBetween(Window.currentRow, k - 1)
    Tables.events(spark, dir)
      .select($"event_type", $"event_id", $"ts", dec($"value").as("v"))
      .withColumn("n_pre", count(lit(1)).over(pre))
      .withColumn("n_post", count(lit(1)).over(post))
      .withColumn("pre_mean", sum($"v").over(pre).cast(DoubleType) / $"n_pre")
      .withColumn("post_mean", sum($"v").over(post).cast(DoubleType) / $"n_post")
      .filter($"n_pre" === k && $"n_post" === k)
      .withColumn("jump", $"post_mean" - $"pre_mean")
      .transform(changepointAssembly(_, mult))
  }

  /** The post-jump assembly of [[changepoints]], shared with the
    * streaming twin (StreamChangepoint): the per-series adaptive
    * threshold (decimal-summed mean |jump| — a window over the JUMP
    * rows, never the raw stream) and the exceedance filter. `jumps` =
    * (event_type, event_id, ts, pre_mean, post_mean, jump) with the
    * k-full edge filter already applied. */
  def changepointAssembly(jumps: DataFrame, mult: Double = 3.0): DataFrame = {
    import jumps.sparkSession.implicits._
    val whole = Window.partitionBy($"event_type")
      .orderBy($"ts".asc, $"event_id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    jumps
      .withColumn("mean_abs_jump",
        sum(abs($"jump").cast(DecimalType(18, 6))).over(whole).cast(DoubleType) /
          count(lit(1)).over(whole))
      .filter(abs($"jump") > lit(mult) * $"mean_abs_jump")
      .select($"event_type", $"event_id", $"ts", $"pre_mean", $"post_mean",
        $"jump", $"mean_abs_jump")
  }

  /** RFM segmentation (`events_rfm`): the classic customer-value
    * rollup — per user, Recency (days since last activity vs the
    * corpus high-water mark), Frequency (event count), Monetary
    * (decimal-exact purchase revenue) — each then quartile-scored
    * 1..4 (1 = best) so downstream audiences select on e.g.
    * "r_score=1 AND m_score<=2".
    *
    * Scale shape: the event log REDUCES FIRST — one partial-aggregated
    * groupBy collapses the stream to a single row per user (recency /
    * frequency / monetary all ride that one scan; the conditional
    * purchase sum costs nothing extra), and the high-water mark is a
    * 1-row global max broadcast back (never a window over raw
    * events, the [[freshness]] argument). Only then do the three
    * `ntile` windows run — over USER-cardinality rows, the same
    * pay-on-the-dimension-never-the-facts stance as q_pareto/q_ntile.
    * All three quartile sorts are total orders (user_id tiebreak) so
    * scores are deterministic on any engine; recency is exact integer
    * µs→day arithmetic. */
  def rfm(spark: SparkSession, dir: String): DataFrame =
    rfmAssembly(rfmCensus(Tables.events(spark, dir)))

  /** The per-user (last_us, frequency, monetary_dec) census of [[rfm]]
    * over events `ev`, shared with the streaming twin (StreamRfm). */
  def rfmCensus(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    ev.groupBy($"user_id")
      .agg(max(unix_micros($"ts")).as("last_us"),
        count(lit(1)).as("frequency"),
        coalesce(sum(when($"event_type" === "purchase", dec($"value"))), lit(0))
          .cast(DecimalType(18, 2)).as("monetary_dec"))
  }

  /** The post-census assembly of [[rfm]], shared with the streaming
    * twin (StreamRfm): quartile scores over the per-user census —
    * user-dimension-sized, independent of event volume. The snapshot
    * instant (`hi_us`) is the max over per-user last-activity times:
    * identical to the batch global max because every event belongs
    * to exactly one user group (the NULL user included). `perUser` =
    * (user_id, last_us, frequency, monetary_dec). */
  def rfmAssembly(perUser: DataFrame): DataFrame = {
    import perUser.sparkSession.implicits._
    val hi = perUser.agg(max($"last_us").as("hi_us"))
    val rW = Window.orderBy($"recency_days".asc, $"user_id".asc)
    val fW = Window.orderBy($"frequency".desc, $"user_id".asc)
    val mW = Window.orderBy($"monetary_dec".desc, $"user_id".asc)
    perUser.join(broadcast(hi))
      .withColumn("recency_days", expr("(hi_us - last_us) div 86400000000"))
      .withColumn("r_score", ntile(4).over(rW).cast(LongType))
      .withColumn("f_score", ntile(4).over(fW).cast(LongType))
      .withColumn("m_score", ntile(4).over(mW).cast(LongType))
      .select($"user_id", $"recency_days", $"frequency",
        $"monetary_dec".cast(DoubleType).as("monetary"),
        $"r_score", $"f_score", $"m_score")
  }

  /** Cohort lifetime value (`events_ltv`): the revenue twin of
    * [[retention]] — per (signup-cohort week, week offset): distinct
    * buyers, weekly purchase revenue, and the cohort's CUMULATIVE
    * revenue curve (the payback-period readout: which week each
    * cohort's LTV crosses acquisition cost). Revenue stays in exact
    * decimal through both the weekly rollup and the running sum, so
    * the doubles surfaced at the end are order-independent; the
    * cumulative window runs over the DIMENSION-sized (cohort, week)
    * grid, never raw events.
    *
    * Scale shape: cohort assignment is one groupBy(user) min; the
    * purchase join hashes on user_id; the cell rollup
    * partial-aggregates. */
  def ltv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val cohorts = ev.filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"ts").as("first_signup"))
      .select($"user_id", date_trunc("week", $"first_signup").as("cohort_week"))
    val purchases = ev.filter($"event_type" === "purchase" && $"ts".isNotNull)
      .select($"user_id", date_trunc("week", $"ts").as("p_week"), $"value")
    val cells = cohorts.join(purchases, Seq("user_id"))
      .filter($"p_week" >= $"cohort_week")
      .select($"cohort_week",
        (datediff($"p_week", $"cohort_week") / 7).cast(LongType).as("week_offset"),
        $"user_id", $"value")
      .groupBy($"cohort_week", $"week_offset")
      .agg(countDistinct($"user_id").as("n_buyers"),
        sum(dec($"value")).as("rev_dec"))
    ltvCurve(cells)
  }

  /** The cumulative revenue curve of [[ltv]] over its (cohort_week,
    * week_offset, n_buyers, rev_dec) cells, shared with the streaming
    * twin (StreamLtv). */
  def ltvCurve(cells: DataFrame): DataFrame = {
    import cells.sparkSession.implicits._
    val w = Window.partitionBy($"cohort_week").orderBy($"week_offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.withColumn("cum_dec", sum($"rev_dec").over(w))
      .select($"cohort_week", $"week_offset", $"n_buyers",
        $"rev_dec".cast(DoubleType).as("revenue"),
        $"cum_dec".cast(DoubleType).as("cum_revenue"))
  }

  /** Hour-of-day seasonal profile (`ts_seasonal`): per (event_type,
    * hour-of-day) activity baseline — event count, distinct active
    * days, and the seasonal index (24·n_hod / n_type: 1.0 = flat, >1
    * = peak hour). The capacity-planning complement of
    * [[dispersion]]: dispersion asks "how bursty", this asks "WHEN".
    *
    * Scale shape: ONE partial-aggregated census shuffle keyed by
    * (type, hod) — at most 24 cells per type however large the
    * stream; per-type totals come from a second aggregation over the
    * ≤24-cell census (dimension-sized), broadcast back. The distinct
    * day count hashes on (type, hod, day) — the only corpus-bounded
    * aggregate, still partial-deduped map-side. Hour-of-day uses
    * pmod-floor µs arithmetic (Spark DIV truncates toward zero; the
    * oracle's `//` floors — they'd disagree pre-1970), and the index
    * is ONE division of exact longs, deterministic on both engines. */
  def seasonal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the census feeds BOTH the totals and the final join — without
    // the checkpoint Catalyst re-derives it per consumer, i.e. two
    // full corpus scans at 100 TB for a ≤ types×24-row frame;
    // transient so the harness drain frees the blocks (ADVICE r8)
    seasonalAssembly(graft.operators.Dedup.localCheckpointTransient(
      hourDays(Tables.events(spark, dir))
        .groupBy($"event_type", $"hod")
        .agg(count(lit(1)).as("n_events"),
          countDistinct($"day").as("n_days"))))
  }

  /** The typed, timed events of `ev` as (event_type, hod, day), the
    * rows [[seasonal]] counts; shared with the streaming twin
    * (StreamSeasonal). */
  def hourDays(ev: DataFrame): DataFrame =
    ev.filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("pmod((unix_micros(ts) - pmod(unix_micros(ts), 3600000000)) DIV 3600000000, 24)").as("hod"),
        expr("(unix_micros(ts) - pmod(unix_micros(ts), 86400000000)) DIV 86400000000").as("day"))

  /** The post-census assembly of [[seasonal]], shared with the
    * streaming twin: per-type totals and the seasonal index over the
    * (event_type, hod, n_events, n_days) census. */
  def seasonalAssembly(cells: DataFrame): DataFrame = {
    import cells.sparkSession.implicits._
    val totals = cells.groupBy($"event_type")
      .agg(sum($"n_events").as("n_type"))
    cells.join(broadcast(totals), "event_type")
      .select($"event_type", $"hod", $"n_events", $"n_days",
        (($"n_events" * 24L).cast(DoubleType) / $"n_type".cast(DoubleType))
          .as("seasonal_idx"))
  }

  /** Inter-arrival time distribution (`events_interarrival`): per
    * event_type, exact discrete p50/p90/p99/max of the µs gap
    * between consecutive events — the arrival-process view that sizes
    * ingestion buffers and picks watermark delays. Percentiles are
    * rank statistics (value at ceil(p·n) under a (gap, event_id)
    * total order — deterministic under ties, no interpolation, no
    * sketch error), the [[queueLatency]] discipline applied to the
    * arrival process instead of the service process.
    *
    * Scale shape: one LAG pass and the rank window hash-partition on
    * the SAME type key (exchange paid once, re-sorted once); the
    * rollup partial-aggregates. Per-type sequential rank is the
    * operator's inherent semantics — at 100 TB a hot type's sort
    * spills rather than breaking, and the t-digest sketch is the
    * documented trade when ±ε quantiles suffice. */
  def interarrival(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wSeq = Window.partitionBy($"event_type")
      .orderBy($"t_us".asc, $"event_id".asc)
    val gaps = Tables.events(spark, dir)
      .filter($"ts".isNotNull && $"event_type".isNotNull)
      .select($"event_type", $"event_id", unix_micros($"ts").as("t_us"))
      .withColumn("prev_us", lag($"t_us", 1).over(wSeq))
      .filter($"prev_us".isNotNull)
      .withColumn("gap_us", $"t_us" - $"prev_us")
    val wRank = Window.partitionBy($"event_type")
      .orderBy($"gap_us".asc, $"event_id".asc)
    gaps
      .withColumn("rn", row_number().over(wRank).cast(LongType))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"event_type")))
      .groupBy($"event_type")
      .agg(
        max($"n").as("n_gaps"),
        max(when($"rn" === expr("(n + 1) div 2"), $"gap_us")).as("p50_us"),
        max(when($"rn" === expr("(9 * n + 9) div 10"), $"gap_us")).as("p90_us"),
        max(when($"rn" === expr("(99 * n + 99) div 100"), $"gap_us")).as("p99_us"),
        max($"gap_us").as("max_us"))
  }

  /** Hourly-volume trend per stream (`ts_trend`): the ordinary-least-
    * squares slope of event volume over the corpus' hour calendar —
    * the capacity-planning complement of [[dispersion]] ("how bursty")
    * and [[seasonal]] ("when"): is the load GROWING, and how fast per
    * hour. A stream whose slope clears the fleet's provisioning rate
    * is the one that pages capacity planning before it pages on-call.
    *
    * Gap hours are zero observations (a silent hour is evidence of
    * decline, not missing data) — and like [[dispersion]] no dense
    * calendar materializes: over the GLOBAL hour range 0..H−1
    * (indices normalized to the corpus' first hour, a 1-row driver
    * reduction) the regressor sums are closed forms — Σt = H(H−1)/2,
    * Σt² = (H−1)H(2H−1)/6 — and zero-volume hours contribute nothing
    * to Σy or Σty, so only occupied cells are ever touched. The slope
    * assembles from exact longs (num = H·Σty − Σt·Σy,
    * den = H·Σt² − (Σt)², both emitted for the gate) with ONE double
    * division — engine-exact, no libm. Normalizing t to the corpus
    * origin also keeps every product far from Long overflow (t ≤ H
    * instead of ~5·10⁵ epoch-hours).
    *
    * Scale: one partial-aggregated (stream, hour) census is the only
    * corpus-sized pass; the per-stream rollup carries two sums. */
  def trend(spark: SparkSession, dir: String): DataFrame =
    trendAssembly(trendCensus(Tables.events(spark, dir)))

  /** The (event_type, h, y) hour census of [[trend]] over events `ev`,
    * shared with the streaming twin (StreamTrend). */
  def trendCensus(ev: DataFrame): DataFrame =
    // pmod-floor hour bucket (DuckDB `//` floors, Spark DIV truncates)
    ev.filter(col("ts").isNotNull)
      .select(col("event_type"),
        expr("(unix_micros(ts) - pmod(unix_micros(ts), 3600000000)) DIV 3600000000").as("h"))
      .groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("y"))

  /** The post-census assembly of [[trend]], shared with the streaming
    * twin (StreamTrend): the h0/H driver reduction, closed-form
    * regressor sums, and the per-stream rollup — everything here runs
    * over the (stream, hour, y) census, ∝ occupied hours, never
    * events. */
  def trendAssembly(cells: DataFrame): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    val b = cells.agg(min($"h"), max($"h")).head()
    // an empty census spans no hour: a correctly shaped empty result
    val (h0, hN) = if (b.isNullAt(0)) (0L, 0L) else (b.getLong(0), b.getLong(1) - b.getLong(0) + 1L)
    val st = hN * (hN - 1L) / 2L
    val st2 = (hN - 1L) * hN * (2L * hN - 1L) / 6L
    cells
      .withColumn("t", $"h" - lit(h0))
      .groupBy($"event_type")
      .agg(sum($"y").as("sy"), sum($"t" * $"y").as("sty"))
      .select($"event_type", lit(hN).as("n_hours"), $"sy".as("n_events"),
        (lit(hN) * $"sty" - lit(st) * $"sy").as("slope_num"),
        lit(hN * st2 - st * st).as("slope_den"),
        ((lit(hN) * $"sty" - lit(st) * $"sy").cast(DoubleType) /
          lit((hN * st2 - st * st).toDouble)).as("slope_per_hour"))
  }

  /** Fleet availability audit (`events_uptime`): per device, the
    * fraction of 5-minute slots in its OWN active span (first event →
    * last event) that saw at least one event — the "was the device
    * actually reporting" health number beside [[sessionWindows]]'
    * gap view: a device with 40% uptime and healthy sessions is a
    * duty-cycled sensor; one with 99.9% and a single hole is an
    * outage. All integers — slot ids by pmod-floor µs division
    * (engine-exact pre-1970), active = distinct occupied slots, span
    * = last − first + 1 — with ONE final double division.
    *
    * Scale: the (device, slot) census partial-aggregates map-side
    * (shuffle ∝ occupied slots, never events); the per-device rollup
    * rides the same key. NULL-ts rows carry no slot evidence and are
    * filtered scan-side (spelled in the oracle identically). */
  def uptime(spark: SparkSession, dir: String): DataFrame =
    uptimeAssembly(uptimeCensus(Tables.events(spark, dir)))

  /** The (user_id, slot, n) census of [[uptime]] over events `ev`,
    * shared with the streaming twin (StreamUptime). */
  def uptimeCensus(ev: DataFrame): DataFrame =
    ev.filter(col("ts").isNotNull)
      .select(col("user_id"),
        expr("(unix_micros(ts) - pmod(unix_micros(ts), 300000000)) DIV 300000000").as("slot"))
      .groupBy(col("user_id"), col("slot")).agg(count(lit(1)).as("n"))

  /** The post-census rollup of [[uptime]], shared with the streaming
    * twin (StreamUptime): per-device slot census → span/active/frac;
    * ∝ occupied slots, never events. `cells` = (user_id, slot, n). */
  def uptimeAssembly(cells: DataFrame): DataFrame = {
    import cells.sparkSession.implicits._
    cells
      .groupBy($"user_id")
      .agg(sum($"n").as("n_events"),
        count(lit(1)).as("n_slots_active"),
        (max($"slot") - min($"slot") + 1L).as("n_slots_span"))
      .withColumn("uptime_frac",
        $"n_slots_active".cast(DoubleType) / $"n_slots_span".cast(DoubleType))
  }

  /** Behavioral diversity per user (`events_diversity`): the Rényi-2
    * collision index of each user's event-type distribution — the
    * bot/monoculture gate on the BEHAVIOR axis that
    * [[graft.operators.TextAnalysis]]'s text_entropy applies to
    * characters: a scripted device hammers one event type (effective
    * types → 1) while organic usage spreads over the surface. Exact
    * integer arithmetic throughout — collision pairs Σc·(c−1) over
    * the per-type census vs total pairs N·(N−1) — because Shannon
    * entropy's ln() is libm and not cross-engine reproducible (the
    * text_entropy lesson); effective_types = N(N−1)/Σc(c−1) is ONE
    * IEEE division. Single-event users have no pairs and report NULL
    * (no evidence either way), exactly as the oracle's NULLIF.
    *
    * Scale: the (user, type) census partial-aggregates map-side
    * (shuffle ∝ occupied cells, never events); the per-user rollup
    * rides the same key so the exchange is paid once. */
  def diversity(spark: SparkSession, dir: String): DataFrame =
    diversityAssembly(diversityCensus(Tables.events(spark, dir)))

  /** The (user_id, event_type, c) census of [[diversity]], shared with
    * the streaming twin (StreamDiversity). */
  def diversityCensus(ev: DataFrame): DataFrame =
    ev.groupBy(col("user_id"), col("event_type")).agg(count(lit(1)).as("c"))

  /** The post-census rollup of [[diversity]], shared with the
    * streaming twin (StreamDiversity): the Rényi-2 collision index
    * over the (user, type, c) census — ∝ occupied cells, never
    * events. */
  def diversityAssembly(cells: DataFrame): DataFrame = {
    import cells.sparkSession.implicits._
    cells
      .groupBy($"user_id")
      .agg(sum($"c").as("n_events"),
        count(lit(1)).as("n_types"),
        sum($"c" * ($"c" - 1L)).as("collisions"))
      .select($"user_id", $"n_events", $"n_types", $"collisions",
        ($"n_events" * ($"n_events" - 1L)).as("pairs"),
        when($"collisions" > 0L,
          ($"n_events" * ($"n_events" - 1L)).cast(DoubleType) /
            $"collisions".cast(DoubleType))
          .as("effective_types"))
  }
}
