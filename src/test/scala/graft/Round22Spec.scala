package graft

import org.apache.spark.sql.functions._

import graft.operators.Telemetry

/** Round-8 continuation: the stream_transitions / stream_markov
  * twins — per-user lookahead-free dwell closure and live bigram
  * matrix feed. */
class Round22Spec extends SparkSpec {
  import spark.implicits._

  test("stream_transitions equals the batch status_transitions") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("prev_type"), r.getAs[String]("cur_type"),
        r.getAs[Long]("n_transitions"), r.getAs[Long]("total_dwell_us")))
      .sorted.toSeq
    val batch = canon(Telemetry.statusTransitions(spark, sf))
    val streamed = canon(
      graft.streaming.StreamTransitions.streamedTransitions(spark, sf))
    assert(batch.nonEmpty && batch == streamed)
  }

  test("stream_transitions: dwell closes ACROSS a micro-batch cut; sentinel closes the tail at 0") {
    import graft.streaming.StreamTransitions
    import StreamTransitions.Ev
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]
    val q = StreamTransitions.transitions(mem.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("stx_out").start()
    try {
      // batch 1: a→a→b; the a→b transition at t=300 has no successor
      // yet, so nothing may emit
      mem.addData(
        Ev(Some(1L), 100L, 1L, Some("a")),
        Ev(Some(1L), 200L, 2L, Some("a")),
        Ev(Some(1L), 300L, 3L, Some("b")))
      q.processAllAvailable()
      assert(spark.table("stx_out").count() == 0L,
        "pending transition must not emit before its dwell closes")
      // batch 2: the next arrival (same type, t=450) closes the
      // pending a→b with dwell 150 — measured across the cut
      mem.addData(Ev(Some(1L), 450L, 4L, Some("b")))
      q.processAllAvailable()
      val mid = spark.table("stx_out").as[StreamTransitions.Trans].collect()
      assert(mid.toSeq == Seq(StreamTransitions.Trans(Some(1L), "a", "b", 150L)))
      // batch 3: b→c opens a new pending; the sentinel closes it at 0
      mem.addData(Ev(Some(1L), 500L, 5L, Some("c")),
        Ev(Some(1L), 600L, -1L, None))
      q.processAllAvailable()
      val out = spark.table("stx_out").as[StreamTransitions.Trans].collect().toSet
      assert(out == Set(
        StreamTransitions.Trans(Some(1L), "a", "b", 150L),
        StreamTransitions.Trans(Some(1L), "b", "c", 0L)))
    } finally q.stop()
  }

  test("stream_streak equals the batch events_streak") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (Option(r.getAs[java.lang.Long]("user_id")).map(_.longValue),
        r.getAs[Long]("n_active_days"), r.getAs[Long]("n_streaks"),
        r.getAs[Long]("best_len"),
        Option(r.getAs[java.sql.Date]("best_start")).map(_.toString)))
      .sortBy(_.toString).toSeq
    val batch = canon(Telemetry.streaks(spark, sf))
    val streamed = canon(graft.streaming.StreamStreak.streamedStreaks(spark, sf))
    assert(batch.nonEmpty && batch == streamed)
  }

  test("stream_streak: best-streak ties keep the EARLIEST start; gaps reset") {
    import graft.streaming.StreamStreak
    import StreamStreak.{Ev, Out}
    implicit val sqlCtx = spark.sqlContext
    val day = 86400000000L
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]
    val q = StreamStreak.streaks(mem.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("sstreak_out").start()
    try {
      // days 10,11 | gap | 20,21 — two len-2 streaks; the tie must
      // keep start=10. The second streak STRADDLES the batch cut.
      mem.addData(Ev(Some(7L), 10L * day, 1L), Ev(Some(7L), 11L * day + 5L, 2L),
        Ev(Some(7L), 20L * day, 3L))
      q.processAllAvailable()
      mem.addData(Ev(Some(7L), 21L * day, 4L))
      q.processAllAvailable()
      assert(spark.table("sstreak_out").count() == 0L, "emits only at the barrier")
      mem.addData(Ev(Some(7L), 30L * day, -1L))
      q.processAllAvailable()
      val out = spark.table("sstreak_out").as[Out].collect().toSeq
      assert(out == Seq(Out(Some(7L), 4L, 2L, 2L, 10L)))
    } finally q.stop()
  }

  test("stream_chunks equals the batch chunk_reassemble") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("event_id"),
        Option(r.getAs[java.lang.Long]("user_id")).map(_.longValue),
        r.getAs[Long]("n_received"), r.getAs[Long]("bytes_received"),
        r.getAs[Long]("n_expected"), r.getAs[Boolean]("is_complete")))
      .sorted.toSeq
    val batch = canon(Telemetry.chunkReassemble(spark, sf))
    val streamed = canon(graft.streaming.StreamChunks.streamedChunks(spark, sf))
    assert(batch.nonEmpty && batch == streamed)
    // the all-chunks-lost accounting case must be exercised: at least
    // one zero-received message, still present with is_complete=false
    assert(streamed.exists(r => r._3 == 0L && !r._6) ||
      !batch.exists(r => r._3 == 0L), "zero-received rows survive the twin")
  }

  test("stream_ewma equals the batch ts_ewma") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("event_id"),
        Option(r.getAs[java.lang.Long]("user_id")).map(_.longValue),
        r.getAs[Long]("eus"), r.getAs[Long]("n_window"),
        r.getAs[Double]("ewma")))
      .sortBy(t => (t._1, t._3)).toSeq
    val batch = canon(Telemetry.ewma(spark, sf))
    val streamed = canon(graft.streaming.StreamEwma.streamedEwma(spark, sf))
    assert(batch.nonEmpty && batch == streamed)
  }

  test("stream_ewma: the delay line chains ACROSS the micro-batch cut") {
    import graft.streaming.StreamEwma
    import StreamEwma.{Ev, Out}
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]
    val q = StreamEwma.smooth(mem.toDS(), taps = 2)
      .writeStream.outputMode("append").format("memory")
      .queryName("sewma_out").start()
    try {
      // taps=2: weights 2,1. Batch 1: values 100 then 300 cents.
      mem.addData(Ev(Some(1L), 10L, 1L, 100L), Ev(Some(1L), 20L, 2L, 300L))
      q.processAllAvailable()
      // Batch 2: 600 cents — must smooth over batch 1's tail (300).
      mem.addData(Ev(Some(1L), 30L, 3L, 600L))
      q.processAllAvailable()
      val out = spark.table("sewma_out").as[Out].collect()
        .map(o => o.event_id -> (o.n_window, o.ewma)).toMap
      assert(out(1L) == (1L, 1.0))                       // 100/100
      assert(out(2L) == (2L, (300 * 2 + 100).toDouble / 3 / 100))
      assert(out(3L) == (2L, (600 * 2 + 300).toDouble / 3 / 100),
        "tap from the PREVIOUS micro-batch")
    } finally q.stop()
  }

  test("stream_rfm equals the batch events_rfm") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (Option(r.getAs[java.lang.Long]("user_id")).map(_.longValue),
        r.getAs[Long]("recency_days"), r.getAs[Long]("frequency"),
        r.getAs[Double]("monetary"), r.getAs[Long]("r_score"),
        r.getAs[Long]("f_score"), r.getAs[Long]("m_score")))
      .sortBy(_.toString).toSeq
    val batch = canon(Telemetry.rfm(spark, sf))
    val streamed = canon(graft.streaming.StreamRfm.streamedRfm(spark, sf))
    assert(batch.nonEmpty && batch == streamed)
  }

  test("stream_abtest equals the batch events_abtest (bit-exact t)") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
        r.getAs[Double]("mean_a"), r.getAs[Double]("mean_b"),
        r.getAs[Double]("var_a"), r.getAs[Double]("var_b"),
        r.getAs[Double]("t_stat"))).toSeq
    val batch = canon(Telemetry.abtest(spark, sf))
    val streamed = canon(graft.streaming.StreamAbtest.streamedAbtest(spark, sf))
    assert(batch.nonEmpty && batch == streamed)
  }

  test("stream_active equals the batch q_running_distinct") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[java.sql.Date]("day").toString,
        r.getAs[Long]("n_active_users"), r.getAs[Long]("n_new_users"),
        r.getAs[Long]("cum_distinct_users"))).sorted.toSeq
    val batch = canon(Telemetry.runningDistinct(spark, sf))
    val streamed = canon(graft.streaming.StreamActive.streamedActive(spark, sf))
    assert(batch.nonEmpty && batch == streamed)
  }

  test("stream_active: a cross-cut user never recounts as new") {
    import graft.streaming.StreamActive
    import StreamActive.{Ev, Hit}
    implicit val sqlCtx = spark.sqlContext
    val day = 86400000000L
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]
    val q = StreamActive.hits(mem.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("sact_out").start()
    try {
      mem.addData(Ev(Some(5L), 10L * day), Ev(Some(5L), 10L * day + 7L))
      q.processAllAvailable()
      // same day again next batch: no re-emission; a NEW day emits
      // with is_first = false (the user is already counted)
      mem.addData(Ev(Some(5L), 10L * day + 9L), Ev(Some(5L), 12L * day))
      q.processAllAvailable()
      val out = spark.table("sact_out").as[Hit].collect().toSet
      assert(out == Set(Hit(Some(5L), 10L, true), Hit(Some(5L), 12L, false)))
    } finally q.stop()
  }

  test("stream_gapfill equals the batch ts_gapfill") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (Option(r.getAs[java.lang.Long]("user_id")).map(_.longValue),
        r.getAs[java.sql.Timestamp]("hour_ts").getTime,
        r.getAs[Long]("n_slots"), r.getAs[Long]("n_filled"),
        Option(r.getAs[java.lang.Double]("sum_filled")).map(_.doubleValue)))
      .sortBy(_.toString).toSeq
    val batch = canon(Telemetry.gapfill(spark, sf))
    val streamed = canon(graft.streaming.StreamGapfill.streamedGapfill(spark, sf))
    assert(batch.nonEmpty && batch == streamed)
  }

  test("stream_gapfill: a mid-hour cut carries the slot cursor; NULL value keeps the carry") {
    import graft.streaming.StreamGapfill
    import StreamGapfill.{Ev, Out}
    implicit val sqlCtx = spark.sqlContext
    val hr = StreamGapfill.hourUs
    val mn = 60000000L
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]
    val q = StreamGapfill.fill(mem.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("sgap_out").start()
    try {
      // value 2.00 at minute 5; a NULL-value event at minute 10 must
      // NOT reset the carry
      mem.addData(Ev(Some(1L), hr + 5L * mn, 1L, Some(200L)),
        Ev(Some(1L), hr + 10L * mn, 2L, None))
      q.processAllAvailable()
      assert(spark.table("sgap_out").count() == 0L, "open hour must not emit")
      // batch 2: value 3.00 at minute 30 of the SAME hour (cursor
      // carried across the cut), then a sentinel closes it
      mem.addData(Ev(Some(1L), hr + 30L * mn, 3L, Some(300L)))
      q.processAllAvailable()
      mem.addData(Ev(Some(1L), 3L * hr, -1L, None))
      q.processAllAvailable()
      val out = spark.table("sgap_out").as[Out].collect().toSeq
      // slots 0..4 empty; 5..29 carry 200 (ends at min 6..30 − 1µs →
      // 25 slots); 30..59 carry 300 (30 slots)
      assert(out == Seq(Out(Some(1L), hr, 60L, 55L, 25L * 200L + 30L * 300L)))
    } finally q.stop()
  }

  test("stream_ltv equals the batch events_ltv") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[java.sql.Timestamp]("cohort_week").getTime,
        r.getAs[Long]("week_offset"), r.getAs[Long]("n_buyers"),
        Option(r.getAs[java.lang.Double]("revenue")).map(_.doubleValue),
        Option(r.getAs[java.lang.Double]("cum_revenue")).map(_.doubleValue)))
      .sortBy(_.toString).toSeq
    val batch = canon(Telemetry.ltv(spark, sf))
    val streamed = canon(graft.streaming.StreamLtv.streamedLtv(spark, sf))
    assert(batch.nonEmpty && batch == streamed)
  }

  test("stream_ltv: a late EARLIER signup re-assigns the cohort and pulls prior purchases in") {
    import graft.streaming.StreamLtv
    def at(t: String) = Some(java.sql.Timestamp.from(java.time.Instant.parse(t)))
    // batch 1: signup in the week of Jan 22, purchase in the week of
    // Jan 8 — OUTSIDE the triangle under this cohort; batch 2: an
    // EARLIER signup (week of Jan 1) arrives late — the purchase must
    // now be IN the triangle at offset 1
    val cells = twoTriggers[(Long, String, Option[java.sql.Timestamp], Option[Double])](
        Seq((1L, "signup", at("2024-01-23T12:00:00Z"), None),
          (1L, "purchase", at("2024-01-09T12:00:00Z"), Some(5.0d))),
        Seq((1L, "signup", at("2024-01-02T12:00:00Z"), None))) {
      ev => StreamLtv.cells(ev.toDF("user_id", "event_type", "ts", "value"))
    }
    // a local copy: the memory sink's plan cannot be self-joined
    val local = spark.createDataFrame(cells.collectAsList(), cells.schema)
    val out = StreamLtv.triangle(local).collect().map(r =>
      (r.getAs[java.sql.Timestamp]("cohort_week").toInstant.toString, r.getAs[Long]("week_offset"),
        r.getAs[Long]("n_buyers"), r.getAs[Double]("revenue"))).toSeq
    assert(out == Seq(("2024-01-01T00:00:00Z", 1L, 1L, 5.0d)))
  }

  test("stream_benford equals the batch dq_benford") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Int]("digit"), r.getAs[Long]("n_rows"),
        r.getAs[Double]("share"), r.getAs[Double]("benford_expected"),
        r.getAs[Double]("abs_dev"))).sorted.toSeq
    val batch = canon(graft.operators.Quality.benford(spark, sf))
    val streamed = canon(graft.streaming.StreamBenford.streamedBenford(spark, sf))
    assert(batch.nonEmpty && batch == streamed)
  }

  test("stream_attr_linear equals the batch events_attribution_linear") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("channel"), r.getAs[Long]("n_purchases"),
        Option(r.getAs[java.lang.Double]("value_bp")).map(_.doubleValue)))
      .sorted.toSeq
    val batch = canon(Telemetry.attributionLinear(spark, sf))
    val streamed = canon(
      graft.streaming.StreamAttrLinear.streamedAttrLinear(spark, sf))
    assert(batch.nonEmpty && batch == streamed)
  }

  test("stream_attr_linear: same-µs touches count; cross-cut touches count; pruned ones don't") {
    import graft.streaming.StreamAttrLinear
    import StreamAttrLinear.{Ev, Split}
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]
    val look = 1000L
    val q = StreamAttrLinear.splits(mem.toDS(), look)
      .writeStream.outputMode("append").format("memory")
      .queryName("sattr_out").start()
    try {
      // batch 1: a click at t=100 (in-window later), a view at t=10
      // (will be PRUNED: 10 < 1200-1000)
      mem.addData(Ev(Some(1L), 10L, 1L, 1, None), Ev(Some(1L), 100L, 2L, 0, None))
      q.processAllAvailable()
      // batch 2: a view at the purchase's EXACT µs but HIGHER
      // event_id — the range frame counts it: 1 click + 1 view
      mem.addData(Ev(Some(1L), 1050L, 3L, 2, Some(700L)),
        Ev(Some(1L), 1050L, 4L, 1, None))
      q.processAllAvailable()
      val out = spark.table("sattr_out").as[Split].collect().toSeq
      assert(out == Seq(Split(Some(700L), 5000L, 5000L, 0L)))
    } finally q.stop()
  }

  test("stream_volume equals the batch dq_volume") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (Option(r.getAs[String]("event_type")),
        r.getAs[java.sql.Timestamp]("day").getTime,
        r.getAs[Long]("n_events"), r.getAs[Long]("n_days"),
        r.getAs[Boolean]("is_spike")))
      .sortBy(_.toString).toSeq
    val batch = canon(graft.operators.Quality.volume(spark, sf))
    val streamed = canon(graft.streaming.StreamVolume.streamedVolume(spark, sf))
    assert(batch.nonEmpty && batch == streamed)
  }

  test("stream_queue_stats equals the batch queue_stats") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (Option(r.getAs[String]("event_type")),
        r.getAs[Long]("n_msgs"),
        Option(r.getAs[java.lang.Double]("bytes_total")).map(_.doubleValue),
        r.getAs[Long]("n_lost"), r.getAs[Double]("bytes_lost"),
        Option(r.getAs[java.sql.Timestamp]("last_sent")).map(_.getTime),
        Option(r.getAs[java.sql.Timestamp]("last_lost")).map(_.getTime)))
      .sortBy(_.toString).toSeq
    val batch = canon(Telemetry.queueStats(spark, sf))
    val streamed = canon(
      graft.streaming.StreamQueueStats.streamedQueueStats(spark, sf))
    assert(batch.nonEmpty && batch == streamed)
  }

  test("stream_moving_avg equals the batch ts_moving_avg") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("event_id"),
        Option(r.getAs[java.lang.Long]("user_id")).map(_.longValue),
        r.getAs[Long]("eus"), r.getAs[Long]("n_window"),
        Option(r.getAs[java.lang.Double]("avg_window")).map(_.doubleValue)))
      .sortBy(t => (t._1, t._3)).toSeq
    val batch = canon(Telemetry.movingAvg(spark, sf))
    val streamed = canon(
      graft.streaming.StreamMovingAvg.streamedMovingAvg(spark, sf))
    assert(batch.nonEmpty && batch == streamed)
  }

  test("stream_markov equals the batch events_markov") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("from_state"), Option(r.getAs[String]("to_state")),
        r.getAs[Long]("n_transitions"), r.getAs[Long]("row_total"),
        r.getAs[Double]("p"), r.getAs[Long]("rnk")))
      .sorted.toSeq
    val batch = canon(Telemetry.markov(spark, sf))
    val streamed = canon(graft.streaming.StreamMarkov.streamedMarkov(spark, sf))
    assert(batch.nonEmpty && batch == streamed)
  }
}
