package graft

import org.apache.spark.sql.functions._

import graft.operators.{Frames, Quality, Telemetry}

/** Round-8 continuation, milestone 24: nine streaming twins —
  * stream_m4 / stream_funnel3 / stream_freshness /
  * stream_completeness / stream_frame_stats / stream_basket /
  * stream_uptime / stream_diversity / stream_trend — each gated
  * against its batch operator and, where the cross-batch property is
  * subtle, against a hand-staged MemoryStream. */
class Round24Spec extends SparkSpec {
  import spark.implicits._

  private def optL(r: org.apache.spark.sql.Row, c: String): Option[Long] =
    if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Long](c))
  private def optD(r: org.apache.spark.sql.Row, c: String): Option[Double] =
    if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Double](c))
  private def optT(r: org.apache.spark.sql.Row, c: String): Option[Long] =
    Option(r.getAs[java.sql.Timestamp](c)).map(_.getTime)

  test("stream_m4 equals the batch ts_m4") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (optL(r, "user_id"), optT(r, "bucket"),
        r.getAs[Long]("n_points"), r.getAs[Double]("v_first"),
        r.getAs[Double]("v_last"), r.getAs[Double]("v_min"),
        r.getAs[Double]("v_max")))
      .sortBy(t => (t._1, t._2)).toSeq
    val batch = canon(Telemetry.m4(spark, sf))
    val streamed = canon(graft.streaming.StreamM4.streamedM4(spark, sf))
    assert(batch.nonEmpty && batch == streamed)
  }

  test("stream_funnel3 equals the batch events_funnel3") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (optL(r, "user_id"), optT(r, "signup_ts"),
        optT(r, "view_ts"), optT(r, "purchase_ts"),
        r.getAs[Long]("reached_step"), optL(r, "total_delay_us")))
      .sortBy(_._1).toSeq
    val batch = canon(Telemetry.funnel3(spark, sf))
    val streamed = canon(graft.streaming.StreamFunnel3.streamedFunnel3(spark, sf))
    assert(batch.nonEmpty && batch == streamed)
  }

  test("stream_funnel3: a batch-2 earlier signup promotes views AND re-qualifies purchases") {
    import graft.streaming.StreamFunnel3
    import StreamFunnel3.F3Out
    val out = twoTriggers(
      // user 1: purchase and view land BEFORE any signup is known
      Seq((Option(1L), Option(100L), "purchase"), (Option(1L), Option(50L), "view"),
        // user 2: view precedes its signup forever — never qualifies
        (Option(2L), Option(30L), "view"), (Option(2L), Option(40L), "signup"),
        (Option(2L), Option(35L), "purchase")),
      // the retroactive chain: an EARLIER signup lands in batch 2
      Seq((Option(1L), Option(40L), "signup"))) { ev =>
      StreamFunnel3.funnel3Stream(ev.toDF("user_id", "ts_us", "typ"))
    }.select($"user_id", $"f").as[(Option[Long], F3Out)].collect().toSet
    assert(out == Set(
      Some(1L) -> F3Out(signed = true, Some(40L), Some(50L), Some(100L)),
      Some(2L) -> F3Out(signed = true, Some(40L), None, None)))
  }

  test("stream_funnel3: merging the folds of any split equals the one-pass fold and the batch rule") {
    import graft.streaming.StreamFunnel3.{Election, Ev}
    val rnd = new scala.util.Random(24)
    def fold(es: Seq[Ev]) = es.foldLeft(Election.zero)(Election.reduce)
    val types = Seq("signup", "view", "purchase")
    (0 until 2000).foreach { i =>
      val evs = Seq.fill(rnd.nextInt(12))(Ev(Option.when(rnd.nextInt(6) > 0)(rnd.nextInt(12).toLong),
        types(rnd.nextInt(3))))
      def ts(typ: String) = evs.filter(_.typ == typ).flatMap(_.ts_us)
      // the batch chain: min signup, min view at or after it, min
      // purchase at or after that view
      val m = ts("signup").minOption
      val v = m.flatMap(s => ts("view").filter(_ >= s).minOption)
      val p = v.flatMap(s => ts("purchase").filter(_ >= s).minOption)
      val want = Option.when(evs.exists(_.typ == "signup"))((m, v, p))
      val Seq(x, y) = Seq(rnd.nextInt(evs.size + 1), rnd.nextInt(evs.size + 1)).sorted
      val (a, b, c) = (fold(evs.take(x)), fold(evs.slice(x, y)), fold(evs.drop(y)))
      Seq(fold(rnd.shuffle(evs)), Election.merge(Election.merge(a, b), c),
          Election.merge(c, Election.merge(b, a)), Election.merge(Election.zero, fold(evs)))
        .map(Election.finish).foreach { o =>
          assert(Option.when(o.signed)((o.signup_us, o.view_us, o.purchase_us)) == want,
            s"case $i: $evs")
        }
    }
  }

  test("stream_freshness equals the batch dq_freshness") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (Option(r.getAs[String]("event_type")), optT(r, "last_ts"),
        r.getAs[Long]("n_events"), r.getAs[Long]("n_last_day"),
        r.getAs[Long]("lag_seconds"), r.getAs[Boolean]("is_stale")))
      .sortBy(_._1).toSeq
    val batch = canon(Quality.freshness(spark, sf))
    val streamed = canon(graft.streaming.StreamFreshness.streamedFreshness(spark, sf))
    assert(batch.nonEmpty && batch == streamed)
  }

  test("stream_freshness: an advancing max prunes the 24h buffer across the cut") {
    import graft.streaming.StreamFreshness
    import StreamFreshness.{Ev, Out}
    implicit val sqlCtx = spark.sqlContext
    val day = 86400000000L
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]
    val q = StreamFreshness.census(mem.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("fresh_out").start()
    try {
      mem.addData(Ev(Some("A"), 0L, sentinel = false))
      q.processAllAvailable()
      // batch 2: the type max jumps 10 days — the day-0 entry expires
      mem.addData(Ev(Some("A"), 10L * day, sentinel = false))
      mem.addData(Ev(Some("A"), 0L, sentinel = true))
      q.processAllAvailable()
      val out = spark.table("fresh_out").as[Out].collect().toSeq
      assert(out == Seq(Out(Some("A"), 10L * day, 2L, Seq(10L * day))),
        s"buffer must prune to the last-24h slice, got $out")
    } finally q.stop()
  }

  test("stream_completeness equals the batch dq_completeness") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("column_name"), r.getAs[Long]("n_rows"),
        r.getAs[Long]("n_null"), r.getAs[Long]("n_blank"),
        r.getAs[Double]("populated_frac")))
      .sortBy(_._1).toSeq
    val batch = canon(Quality.completeness(spark, sf))
    val streamed = canon(
      graft.streaming.StreamCompleteness.streamedCompleteness(spark, sf))
    assert(batch.nonEmpty && batch == streamed)
  }

  test("stream_completeness: counters accumulate across the cut") {
    val ts = Some(java.sql.Timestamp.valueOf("2024-01-02 03:04:05"))
    val out = twoTriggers[(Option[java.sql.Timestamp], Option[Long], Option[String], Option[Double],
        Option[String])](
        Seq((None, Some(1L), Some("click"), Some(1.0d), Some("{}"))),
        Seq((ts, None, Some(" "), Some(2.0d), Some("{}")))) {
      ev => Quality.completenessCounts(ev.toDF("ts", "user_id", "event_type", "value", "props"))
    }.collect().toSeq
    // n_rows, then (null, blank) per column: ts, user_id, event_type,
    // value, props
    assert(out.map(_.toSeq) == Seq(Seq(2L, 1L, 0L, 1L, 0L, 0L, 1L, 0L, 0L, 0L, 0L)))
  }

  test("stream_frame_stats equals the batch frame_stats") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (optL(r, "device_id"), r.getAs[Long]("n_frames"),
        r.getAs[Long]("sample_sum"), r.getAs[Long]("sample_min"),
        r.getAs[Long]("sample_max"), r.getAs[Double]("sample_avg")))
      .sortBy(_._1).toSeq
    val batch = canon(Frames.stats(spark, sf))
    val streamed = canon(
      graft.streaming.StreamFrameStats.streamedFrameStats(spark, sf))
    assert(batch.nonEmpty && batch == streamed)
  }

  test("stream_basket equals the batch events_basket") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("type_a"), r.getAs[String]("type_b"),
        r.getAs[Long]("n_a"), r.getAs[Long]("n_b"), r.getAs[Long]("n_ab"),
        r.getAs[Double]("lift")))
      .sortBy(t => (t._1, t._2)).toSeq
    val batch = canon(Telemetry.basket(spark, sf))
    val streamed = canon(graft.streaming.StreamBasket.streamedBasket(spark, sf))
    assert(batch.nonEmpty && batch == streamed)
  }

  test("stream_basket: a cell hit on both sides of the cut emits once") {
    import graft.streaming.StreamBasket
    import StreamBasket.{Cell, Ev}
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]
    val q = StreamBasket.cells(mem.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("basket_out").start()
    try {
      mem.addData(Ev(Some(1L), Some("a")), Ev(Some(1L), Some("a")))
      q.processAllAvailable()
      mem.addData(Ev(Some(1L), Some("a")), Ev(Some(1L), Some("b")))
      q.processAllAvailable()
      val out = spark.table("basket_out").as[Cell].collect().toSeq
      assert(out.size == 2 &&
        out.toSet == Set(Cell(Some(1L), Some("a")), Cell(Some(1L), Some("b"))))
    } finally q.stop()
  }

  test("stream_uptime equals the batch events_uptime") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (optL(r, "user_id"), r.getAs[Long]("n_events"),
        r.getAs[Long]("n_slots_active"), r.getAs[Long]("n_slots_span"),
        r.getAs[Double]("uptime_frac")))
      .sortBy(_._1).toSeq
    val batch = canon(Telemetry.uptime(spark, sf))
    val streamed = canon(graft.streaming.StreamUptime.streamedUptime(spark, sf))
    assert(batch.nonEmpty && batch == streamed)
  }

  test("stream_diversity equals the batch events_diversity") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (optL(r, "user_id"), r.getAs[Long]("n_events"),
        r.getAs[Long]("n_types"), r.getAs[Long]("collisions"),
        r.getAs[Long]("pairs"), optD(r, "effective_types")))
      .sortBy(_._1).toSeq
    val batch = canon(Telemetry.diversity(spark, sf))
    val streamed = canon(
      graft.streaming.StreamDiversity.streamedDiversity(spark, sf))
    assert(batch.nonEmpty && batch == streamed)
  }

  test("stream_diversity: a census cell split across the cut folds into one counter") {
    val out = twoTriggers(Seq((1L, "a")), Seq((1L, "a"), (1L, "b"))) {
      ev => Telemetry.diversityCensus(ev.toDF("user_id", "event_type"))
    }
    assert(out.as[(Long, String, Long)].collect().toSet == Set((1L, "a", 2L), (1L, "b", 1L)))
  }

  test("stream_trend equals the batch ts_trend") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (Option(r.getAs[String]("event_type")), r.getAs[Long]("n_hours"),
        r.getAs[Long]("n_events"), r.getAs[Long]("slope_num"),
        r.getAs[Long]("slope_den"), r.getAs[Double]("slope_per_hour")))
      .sortBy(_._1).toSeq
    val batch = canon(Telemetry.trend(spark, sf))
    val streamed = canon(graft.streaming.StreamTrend.streamedTrend(spark, sf))
    assert(batch.nonEmpty && batch == streamed)
  }
}
