package graft

import org.apache.spark.sql.functions._

import graft.operators.{Relational, Telemetry, TextAnalysis}

/** Round-8 continuation: ts_trend / events_diversity /
  * text_langid_eval batch operators and the stream_sliding /
  * stream_quantiles_hist / stream_topterms twins. */
class Round23Spec extends SparkSpec {
  import spark.implicits._

  test("ts_trend: slope reproduces a driver-side exact OLS over the hourly census") {
    val out = Telemetry.trend(spark, sf).collect()
      .map(r => (Option(r.getAs[String]("event_type")),
        (r.getAs[Long]("n_hours"), r.getAs[Long]("n_events"),
         r.getAs[Long]("slope_num"), r.getAs[Long]("slope_den"))))
      .toMap
    assert(out.nonEmpty)
    // independent replay: census collected, closed forms in BigInt
    val cells = graft.sources.Tables.events(spark, sf)
      .filter($"ts".isNotNull)
      .select($"event_type",
        expr("(unix_micros(ts) - pmod(unix_micros(ts), 3600000000)) DIV 3600000000").as("h"))
      .groupBy($"event_type", $"h").agg(count(lit(1)).as("y"))
      .collect().map(r => (Option(r.getAs[String]("event_type")),
        r.getAs[Long]("h"), r.getAs[Long]("y")))
    val h0 = cells.map(_._2).min
    val hN = BigInt(cells.map(_._2).max - h0 + 1)
    val st = hN * (hN - 1) / 2
    val st2 = (hN - 1) * hN * (2 * hN - 1) / 6
    val den = hN * st2 - st * st
    cells.groupBy(_._1).foreach { case (typ, cs) =>
      val sy = BigInt(cs.map(_._3).sum)
      val sty = cs.map(c => BigInt(c._2 - h0) * BigInt(c._3)).sum
      val num = hN * sty - st * sy
      val (nh, ne, sn, sd) = out(typ)
      assert(BigInt(nh) == hN && BigInt(ne) == sy, s"counts for $typ")
      assert(BigInt(sn) == num && BigInt(sd) == den, s"slope for $typ")
    }
  }

  test("events_diversity: monoculture scores 1.0, singletons NULL, formula exact") {
    val out = Telemetry.diversity(spark, sf)
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_events")
      val types = r.getAs[Long]("n_types")
      val coll = r.getAs[Long]("collisions")
      val pairs = r.getAs[Long]("pairs")
      assert(pairs == n * (n - 1))
      if (n <= 1) assert(coll == 0L && r.isNullAt(r.fieldIndex("effective_types")))
      else {
        // collision pairs bounded by total pairs; equality iff one type
        assert(coll <= pairs)
        if (types == 1L) {
          assert(coll == pairs)
          assert(r.getAs[Double]("effective_types") == 1.0d)
        }
        if (coll > 0)
          assert(r.getAs[Double]("effective_types") == pairs.toDouble / coll.toDouble)
      }
    }
  }

  test("text_langid_eval: cells partition the corpus and margins close") {
    val cells = TextAnalysis.langIdEval(spark, sf).collect()
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(cells.map(_.getAs[Long]("n_docs")).sum == nDocs)
    // per-language margin equals the sum of its cells
    cells.groupBy(_.getAs[String]("lang")).foreach { case (_, cs) =>
      val total = cs.map(_.getAs[Long]("n_docs")).sum
      cs.foreach { c =>
        assert(c.getAs[Long]("n_lang") == total)
        assert(c.getAs[Double]("cell_share") ==
          c.getAs[Long]("n_docs").toDouble / total.toDouble)
      }
    }
    // diagonal totals equal langId's is_match count
    val diag = cells.filter(_.getAs[Boolean]("is_diagonal"))
      .map(_.getAs[Long]("n_docs")).sum
    val matches = TextAnalysis.langId(spark, sf).filter($"is_match").count()
    assert(diag == matches)
  }

  test("dq_keyskew: heap election matches a full-sort replay of the census") {
    import graft.operators.Quality
    val out = Quality.keySkew(spark, sf).collect()
      .map(r => (r.getAs[Long]("rnk"), r.getAs[Long]("user_id"), r.getAs[Long]("n")))
      .sortBy(_._1).toSeq
    val census = graft.sources.Tables.events(spark, sf)
      .groupBy($"user_id").agg(count(lit(1)).as("n")).collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getLong(1)))
    val expected = census.collect { case (Some(k), n) => (k, n) }
      .sortBy { case (k, n) => (-n, k) }.take(10).zipWithIndex
      .map { case ((k, n), i) => (i + 1L, k, n) }.toSeq
    assert(out == expected && out.nonEmpty)
  }

  test("stream_sliding equals the batch events_sliding") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[java.sql.Timestamp]("window_start").getTime,
        r.getAs[Long]("n_events"), r.getAs[Long]("n_users"),
        r.getAs[Double]("sum_value")))
      .sortBy(_._1).toSeq
    val batch = canon(Telemetry.sliding(spark, sf))
    val streamed = canon(graft.streaming.StreamSliding.streamedSliding(spark, sf))
    assert(batch.nonEmpty && batch == streamed)
  }

  test("stream_quantiles_hist equals the batch q_quantiles_hist") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("l_returnflag"), r.getAs[Double]("p50_est"),
        r.getAs[Double]("p95_est"), r.getAs[Long]("n_rows")))
      .sortBy(_._1).toSeq
    val batch = canon(Relational.qQuantilesHist(spark, sf))
    val streamed = canon(
      graft.streaming.StreamQuantilesHist.streamedQuantilesHist(spark, sf))
    assert(batch.nonEmpty && batch == streamed)
  }

  test("stream_quantiles_hist: a bucket split across the cut accumulates into one counter") {
    val out = twoTriggers(Seq(("A", 1600.0d), ("A", 1700.0d)), Seq(("A", 1800.0d), ("A", 3600.0d))) {
      rows => Relational.quantilesHistCensus(rows.toDF("l_returnflag", "l_extendedprice"), 500.0d)
    }
    assert(out.as[(String, Long, Long)].collect().toSet == Set(("A", 3L, 3L), ("A", 7L, 1L)))
  }

  test("stream_topterms equals the batch q_cms_topterms") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("doc_freq"),
        r.getAs[Long]("cms_est")))
      .sorted.toSeq
    val batch = canon(TextAnalysis.cmsTopTerms(spark, sf))
    val streamed = canon(graft.streaming.StreamTopTerms.streamedTopTerms(spark, sf))
    assert(batch.nonEmpty && batch == streamed)
  }

  test("events_uptime: span bounds active, monoculture-slot devices score their census") {
    val rows = Telemetry.uptime(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val active = r.getAs[Long]("n_slots_active")
      val span = r.getAs[Long]("n_slots_span")
      assert(active >= 1L && span >= active,
        s"active $active must fit span $span")
      assert(r.getAs[Double]("uptime_frac") == active.toDouble / span.toDouble)
      assert(r.getAs[Long]("n_events") >= active)
    }
  }

  test("ann_index_stats: every vector lands in exactly one list; micro mass bounds hold") {
    import graft.operators.Similarity
    val out = Similarity.annIndexStats(spark, sf).collect()
    val nVecs = graft.sources.Tables.embeddings(spark, sf).count()
    assert(out.map(_.getAs[Long]("n_vectors")).sum == nVecs)
    out.foreach { r =>
      val n = r.getAs[Long]("n_vectors")
      val mn = r.getAs[Long]("min_cos_micro")
      val mx = r.getAs[Long]("max_cos_micro")
      val sum = r.getAs[Long]("sum_cos_micro")
      assert(mn <= mx && n * mn <= sum && sum <= n * mx)
      assert(r.getAs[Long]("n_total") == nVecs)
      // centroid seeds fit themselves perfectly: cos = 1 → 10^6
      assert(mx <= 1000000L)
    }
    // the 16 seed vectors assign to themselves at exactly cos 1
    assert(out.count(_.getAs[Long]("max_cos_micro") == 1000000L) > 0)
  }

  test("stream_ann_ingest equals the batch ann_index_stats") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("cid"), r.getAs[Long]("n_vectors"),
        r.getAs[Long]("sum_cos_micro"), r.getAs[Long]("min_cos_micro"),
        r.getAs[Long]("max_cos_micro"), r.getAs[Long]("n_total"),
        r.getAs[Double]("load_share"), r.getAs[Boolean]("hot")))
      .sortBy(_._1).toSeq
    val batch = canon(graft.operators.Similarity.annIndexStats(spark, sf))
    val streamed = canon(
      graft.streaming.StreamAnnIngest.streamedAnnIngest(spark, sf))
    assert(batch.nonEmpty && batch == streamed)
  }

  test("stream_ann_ingest: a list fed on both sides of the cut folds into one row") {
    val out = twoTriggers(Seq((3L, 900000L), (3L, 950000L)), Seq((3L, 800000L))) {
      rows => graft.operators.Similarity.annListCensus(rows.toDF("cid", "cos_micro"))
    }
    assert(out.as[(Long, Long, Long, Long, Long)].collect().toSeq ==
      Seq((3L, 3L, 2650000L, 800000L, 950000L)))
  }

  test("stream_topterms: a term split across the cut accumulates into one counter") {
    // a document counts a term once, however often it repeats it
    val out = twoTriggers(Seq((1L, "alpha beta")), Seq((2L, "alpha alpha"))) {
      docs => TextAnalysis.termDocFreq(docs.toDF("doc_id", "text"))
    }
    assert(out.as[(String, Long)].collect().toSet == Set(("alpha", 2L), ("beta", 1L)))
  }
}
