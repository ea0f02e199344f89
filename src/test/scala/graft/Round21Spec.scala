package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TextAnalysis}

/** Round-8 late additions: URL-canonicalization dedup, winnowing
  * fingerprints, metadata-filtered ANN. */
class Round21Spec extends SparkSpec {
  import spark.implicits._

  private val P = 1000000007L

  private def polyHash(s: String): Long = {
    var h = 0L
    s.codePoints().forEach(cp => h = (h * 31 + cp) % P)
    h
  }

  test("dedup_url: canonical key collapses scheme/case/slash/utm/fragment") {
    val got = Dedup.urlDedup(spark, sf).collect()
      .map(r => r.getAs[String]("canonical_url") ->
        ((r.getAs[Long]("keeper_id"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("n_raw_variants")))).toMap
    // independent restatement of what canonicalization must land on:
    // lowercase host, path, only the non-tracking query survives
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"lang", $"source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val expected = docs.map { case (id, lang, source) =>
      val keptQuery = if (id % 5 != 0 && id % 7 == 0) "?ref=home" else ""
      (s"${source.toLowerCase}.example.com/$lang/item-${id % 50}$keptQuery", id)
    }.groupBy(_._1).map { case (c, rows) =>
      c -> ((rows.map(_._2).min, rows.size.toLong))
    }
    assert(got.keySet == expected.keySet)
    expected.foreach { case (c, (keeper, n)) =>
      assert(got(c)._1 == keeper && got(c)._2 == n, s"mismatch at $c")
    }
    assert(got.values.map(_._2).sum == docs.length.toLong)
    // the operator is non-vacuous: messy variants actually collapsed
    assert(got.values.exists(_._3 > 1L), "no canonical group held >1 raw variant")
    got.keySet.foreach { c =>
      assert(!c.contains("#") && !c.contains("utm_") && !c.startsWith("http"))
    }
  }

  test("text_winnow: matches a direct winnowing recompute on every doc") {
    val k = 8; val w = 4
    val got = TextAnalysis.winnow(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_windows"),
          r.getAs[Long]("n_fingerprints"), r.getAs[Long]("fp_sum"),
          Option(r.get(r.fieldIndex("fp_min")))
            .map(_.asInstanceOf[Long])))).toMap
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.size == docs.length)
    docs.foreach { case (id, text) =>
      val cps = text.toLowerCase.codePoints().toArray
      val hs: Seq[Long] =
        if (cps.length >= k)
          (0 to cps.length - k).map(i => polyHash(new String(cps, i, k)))
        else Seq.empty
      val mins: Seq[Long] =
        if (hs.length >= w) hs.sliding(w).map(_.min).toSeq
        else if (hs.nonEmpty) Seq(hs.min)
        else Seq.empty
      val fps = mins.distinct
      val (gGrams, gWins, gFps, gSum, gMin) = got(id)
      assert(gGrams == hs.length.toLong, s"n_grams at doc $id")
      assert(gWins == mins.length.toLong, s"n_windows at doc $id")
      assert(gFps == fps.length.toLong, s"n_fingerprints at doc $id")
      assert(gSum == fps.sum, s"fp_sum at doc $id")
      assert(gMin == (if (fps.isEmpty) None else Some(fps.min)), s"fp_min at doc $id")
    }
  }

  test("decontaminate_winnow: matches a direct fp-overlap recompute; cap fires") {
    val k = 8; val w = 4; val holdout = 50L; val maxDf = 100
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def fps(text: String): Set[Long] = {
      val cps = text.toLowerCase.codePoints().toArray
      val hs: Seq[Long] =
        if (cps.length >= k)
          (0 to cps.length - k).map(i => polyHash(new String(cps, i, k)))
        else Seq.empty
      val mins =
        if (hs.length >= w) hs.sliding(w).map(_.min).toSeq
        else if (hs.nonEmpty) Seq(hs.min) else Seq.empty
      mins.toSet
    }
    val byDoc = docs.map { case (id, t) => id -> fps(t) }.toMap
    val df = byDoc.values.toSeq.flatten.groupBy(identity).view.mapValues(_.size)
    assert(df.values.exists(_ > maxDf), "df cap is vacuous on this corpus")
    val kept = df.collect { case (fp, c) if c <= maxDf => fp }.toSet
    val evalFps = byDoc.collect { case (id, s) if id < holdout => s }
      .flatten.toSet.intersect(kept)
    val expected = byDoc.collect {
      case (id, s) if id >= holdout && s.intersect(evalFps).nonEmpty =>
        id -> s.intersect(evalFps).size.toLong
    }
    val got = TextAnalysis.decontaminateWinnow(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_shared_fps"), r.getAs[Boolean]("contaminated")))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (id, n) =>
      assert(got(id)._1 == n, s"n_shared_fps at doc $id")
      assert(got(id)._2 == (n >= 3L), s"contaminated flag at doc $id")
    }
  }

  test("stream_heatmap equals the batch events_heatmap") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("dow"), r.getAs[Long]("hour"),
        r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
      .sortBy(t => (t._1, t._2)).toSeq
    val batch = canon(graft.operators.Telemetry.heatmap(spark, sf))
    val streamed = canon(graft.streaming.StreamHeatmap.streamedHeatmap(spark, sf))
    assert(batch.nonEmpty && batch == streamed)
  }

  test("stream_quarantine equals the batch events_quarantine") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("constraint_name"),
        r.getAs[Long]("n_violations"), r.getAs[Long]("n_rows")))
      .sortBy(_._1).toSeq
    val batch = canon(graft.operators.Quality.quarantine(spark, sf))
    val streamed = canon(
      graft.streaming.StreamQuarantine.streamedQuarantine(spark, sf))
    assert(batch.nonEmpty && batch == streamed)
  }

  test("stream_distinct: matches the batch KMV recompute; fold is order-free") {
    val k = graft.streaming.StreamDistinct.K
    // order independence of the k-min core: any permutation of the
    // same hash multiset, split across two triggers anywhere, lands
    // on the same sketch
    val hashes = (1 to 200).map(i => polyHash(s"u$i")) ++ (1 to 50).map(i => polyHash(s"u$i"))
    val expected0 = hashes.distinct.sorted.take(k)
    (0 until 4).foreach { s =>
      val rnd = new scala.util.Random(s)
      val (first, second) = rnd.shuffle(hashes).map(h => ("t", h)).splitAt(rnd.nextInt(hashes.size))
      val folded = twoTriggers(first, second) { ev =>
        graft.streaming.StreamDistinct.census(ev.toDF("event_type", "h"))
      }.select($"hs").as[Seq[Long]].collect().toSeq
      assert(folded == Seq(expected0), s"fold order $s changed the sketch")
    }
    // the streamed operator vs a direct recompute on the corpus
    val byType = graft.sources.Tables.events(spark, sf)
      .filter($"user_id".isNotNull && $"event_type".isNotNull && $"ts".isNotNull)
      .select($"event_type", $"user_id").distinct().collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(u => polyHash(u._2.toString)).distinct.sorted.take(k)).toMap
    val got = graft.streaming.StreamDistinct.streamedDistinct(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_sketch"), r.getAs[Double]("est_distinct")))).toMap
    assert(got.keySet == byType.keySet)
    byType.foreach { case (tp, hs) =>
      val est =
        if (hs.length < k) hs.length.toDouble
        else (k - 1).toDouble * graft.functions.HashFns.P.toDouble / hs(k - 1).toDouble
      assert(got(tp)._1 == hs.length.toLong, s"n_sketch at $tp")
      assert(got(tp)._2 == est, s"est_distinct at $tp")
    }
  }

  test("corpus_fill_budget: admitted set is the exact budget prefix") {
    val budget = 20000L
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val ordered = docs.map { case (id, t) =>
      (polyHash(t), id, t.toLowerCase.split("\\s+", -1).length.toLong)
    }.sortBy(x => (x._1, x._2))
    val expected = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
    var cum = 0L
    var pos = 0L
    var stopped = false
    ordered.foreach { case (_, id, n) =>
      pos += 1; cum += n
      if (cum <= budget && !stopped) expected += ((id, pos, n, cum))
      else stopped = true
    }
    assert(expected.nonEmpty && stopped, "budget never binds on this corpus")
    val got = graft.operators.Curation.fillBudget(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pos"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("cum_tokens"))).sortBy(_._2)
    assert(got.toSeq == expected.toSeq)
  }

  test("events_journeys: matches a direct sessionize-and-census recompute") {
    val gapUs = 1800L * 1000000L
    val ev = graft.sources.Tables.events(spark, sf)
      .filter($"user_id".isNotNull && $"ts".isNotNull && $"event_type".isNotNull)
      .select($"user_id", unix_micros($"ts").as("t"), $"event_id", $"event_type")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val journeys = ev.groupBy(_._1).toSeq.flatMap { case (user, rows) =>
      val sorted = rows.sortBy(r => (r._2, r._3))
      val sessions = scala.collection.mutable.ArrayBuffer[List[String]]()
      var prev = Long.MinValue
      sorted.foreach { case (_, t, _, tp) =>
        if (sessions.isEmpty || t - prev > gapUs) sessions += List(tp)
        else sessions(sessions.length - 1) = sessions.last :+ tp
        prev = t
      }
      sessions.map(s => (user, s.take(8).mkString(">")))
    }
    val census = journeys.groupBy(_._2).map { case (j, rs) =>
      j -> ((rs.size.toLong, rs.map(_._1).distinct.size.toLong))
    }
    val expected = census.toSeq.sortBy { case (j, (n, _)) => (-n, j) }
      .take(20).zipWithIndex
      .map { case ((j, (n, u)), i) => (j, n, u, i + 1L) }
    val got = graft.operators.Telemetry.journeys(spark, sf).collect()
      .map(r => (r.getAs[String]("journey"), r.getAs[Long]("n_sessions"),
        r.getAs[Long]("n_users"), r.getAs[Long]("rnk"))).sortBy(_._4)
    assert(got.toSeq == expected)
    assert(got.nonEmpty && got.exists(_._2 > 1L), "census is degenerate")
  }

  test("ann_range: every pair clears the floor; plan has no per-query window") {
    val res = Similarity.rangeSearch(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("cosine")))
    assert(res.nonEmpty)
    res.foreach { case (q, nb, c) =>
      assert(c >= 0.2d, s"pair ($q,$nb) below the floor")
      assert(nb != q)
    }
    // data-dependent result sizes: not every query returns the same
    // number of neighbors (that would suggest a hidden top-k)
    val sizes = res.groupBy(_._1).values.map(_.length).toSet
    assert(sizes.size > 1, "all queries returned identical result sizes")
    // the search side pays no window exchange: the only window in the
    // plan is the IVF assignment rank, partitioned by vec_id
    val plan = Similarity.rangeSearch(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("query_id ASC NULLS FIRST], [query_id"),
      "unexpected per-query window in the range-search plan")
  }

  test("ann_filtered: cross-class only, dense ranks, full k per query") {
    val res = Similarity.filteredTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("cosine"), r.getAs[Long]("rnk")))
    val labels = graft.sources.Tables.embeddings(spark, sf)
      .select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(res.nonEmpty)
    res.foreach { case (q, nb, _, _) =>
      assert(labels(nb) != labels(q), s"same-label neighbor $nb for query $q")
      assert(nb != q)
    }
    res.groupBy(_._1).foreach { case (q, rows) =>
      val byRank = rows.sortBy(_._4)
      assert(byRank.map(_._4).toSeq == (1L to rows.length.toLong).toSeq,
        s"ranks not dense for $q")
      val cosines = byRank.map(_._3)
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b },
        s"cosine not non-increasing for $q")
      // 500+ vectors across several classes: the probed lists always
      // hold at least k cross-class members
      assert(rows.length == 5, s"query $q returned ${rows.length} != k")
    }
    // plan shape: the corpus never shuffles for the search — the only
    // nested-loop joins are the broadcast centroid cross joins
    val plan = Similarity.filteredTopK(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "unexpected CartesianProduct")
  }
}
