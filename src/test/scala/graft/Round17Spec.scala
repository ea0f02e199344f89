package graft

import org.apache.spark.sql.functions._

import graft.operators.{Relational, Similarity, Telemetry, TextAnalysis}
import graft.sources.Tables

/** Round-7 additions, sixth batch: exact bitmap audience algebra,
  * embedding-batch drift, linear multi-touch attribution. */
class Round17Spec extends SparkSpec {
  import spark.implicits._

  test("bitmap audience: word popcounts equal DISTINCT-user set cardinalities") {
    val got = Relational.qBitmapAudience(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val au = Tables.events(spark, sf).select($"event_type", $"user_id").distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val byType = au.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val types = byType.keys.toSeq.sorted
    val want = (for {
      a <- types; b <- types if a < b
      inter = (byType(a) & byType(b)).size.toLong if inter > 0
    } yield (a, b) -> (byType(a).size.toLong, byType(b).size.toLong,
      inter, (byType(a) | byType(b)).size.toLong)).toMap
    assert(got.nonEmpty && got == want)
  }

  test("bitmap audience: jaccard is the exact ratio of the integer set sizes") {
    Relational.qBitmapAudience(spark, sf).collect().foreach { r =>
      val (ni, nu, j) = (r.getLong(4), r.getLong(5), r.getDouble(6))
      assert(j == ni.toDouble / nu.toDouble)
      assert(ni >= 1L && ni <= nu)
    }
  }

  test("embed_drift: integer dot/norms match a driver-side recompute of batch sums") {
    val d = 64
    val vecs = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
    val q = vecs.map { case (id, v) =>
      val ma = v.map(x => math.abs(x.toDouble)).max
      (id / 100L, if (ma > 0) v.map(x => math.floor(x.toDouble * 127.0 / ma + 0.5).toLong)
        else v.map(_ => 0L))
    }
    val sums = q.groupBy(_._1).view.mapValues { g =>
      Array.tabulate(d)(i => g.map(_._2(i)).sum)
    }.toMap
    val got = Similarity.drift(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(got.nonEmpty)
    got.foreach { case (ba, (dot, na, nb)) =>
      val (sa, sb) = (sums(ba), sums(ba + 1))
      assert(dot == (0 until d).map(i => sa(i) * sb(i)).sum)
      assert(na == sa.map(x => x * x).sum)
      assert(nb == sb.map(x => x * x).sum)
    }
  }

  test("embed_drift: covers every consecutive batch pair exactly once") {
    val batches = Tables.embeddings(spark, sf)
      .select(expr("vec_id DIV 100").as("b")).distinct()
      .collect().map(_.getLong(0)).sorted
    val pairs = Similarity.drift(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length == pairs.distinct.length)
    assert(pairs.toSet == batches.zip(batches.tail)
      .filter { case (a, b) => b == a + 1 }.toSet)
  }

  test("linear attribution: basis points are a floor split that never exceeds 10000") {
    val rows = Telemetry.attributionLinear(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSet.subsetOf(Set("click", "view", "direct")))
    assert(rows.nonEmpty)
    // total credited value (in bp) can never exceed 10000 x total purchase value
    val totalBp = rows.map(_.getDouble(2)).sum
    val totalValue = Tables.events(spark, sf)
      .filter($"event_type" === "purchase")
      .agg(sum(expr("CAST(value AS DECIMAL(18,2))"))).head().getDecimal(0)
    assert(totalBp <= totalValue.doubleValue() * 10000.0 + 1e-6)
  }

  test("linear attribution: a user with touches splits credit, one without is direct") {
    // engineered frame: one user clicks twice + views once then buys;
    // another buys cold — floor split 6666/3333 vs direct 10000
    val base = 1700000000000000L
    val ev = Seq(
      (1L, "click", base - 1000L, 0.0),
      (1L, "click", base - 900L, 0.0),
      (1L, "view", base - 800L, 0.0),
      (1L, "purchase", base, 30.0),
      (2L, "purchase", base, 50.0)
    ).toDF("user_id", "event_type", "t_us", "value")
      .withColumn("ts", timestamp_micros($"t_us"))
      .select($"user_id", $"event_type", $"value", unix_micros($"ts").as("t_us"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"t_us")
      .rangeBetween(-604800000000L, 0L)
    val purch = ev
      .withColumn("n_click", sum(when($"event_type" === "click", 1L).otherwise(0L)).over(w))
      .withColumn("n_view", sum(when($"event_type" === "view", 1L).otherwise(0L)).over(w))
      .filter($"event_type" === "purchase")
      .withColumn("click_bp", expr(
        "CASE WHEN n_click + n_view > 0 THEN (10000 * n_click) DIV (n_click + n_view) ELSE 0 END"))
      .withColumn("view_bp", expr(
        "CASE WHEN n_click + n_view > 0 THEN (10000 * n_view) DIV (n_click + n_view) ELSE 0 END"))
      .withColumn("direct_bp",
        when($"n_click" + $"n_view" === 0L, lit(10000L)).otherwise(lit(0L)))
      .select($"user_id", $"click_bp", $"view_bp", $"direct_bp")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(purch(1L) == ((6666L, 3333L, 0L)))
    assert(purch(2L) == ((0L, 0L, 10000L)))
  }

  test("stss codec: packSync/syncSamples roundtrip, meta decode still sees mvhd+mdat") {
    val df = Seq(("isom", 90000L, 1234L, "payload-bytes", 10L, 3L))
      .toDF("brand", "tsc", "dur", "text", "n", "se")
      .select(graft.plans.Video.packSync($"brand", $"tsc", $"dur",
        encode($"text", "UTF-8"), $"n", $"se").as("blob"))
      .select($"blob", graft.plans.Video.syncSamples($"blob").as("sync"),
        graft.plans.Video.decode($"blob").as("m"))
    val r = df.select($"sync", $"m.timescale", $"m.duration", $"m.mdat_len").head()
    assert(r.getSeq[Long](0) == Seq(1L, 4L, 7L, 10L))
    assert(r.getLong(1) == 90000L && r.getLong(2) == 1234L)
    assert(r.getInt(3) == "payload-bytes".length)
  }

  test("stss codec: no-stss blobs and malformed bytes quarantine to null") {
    val rows = Seq(
      ("plain", "isom"),   // packed WITHOUT a sync table
      ("junk", "????")
    ).toDF("kind", "brand")
      .select($"kind", when($"kind" === "plain",
        graft.plans.Video.pack($"brand", lit(600L), lit(10L), encode(lit("x"), "UTF-8")))
        .otherwise(encode(lit("not an mp4 at all"), "UTF-8")).as("blob"))
      .select($"kind", graft.plans.Video.syncSamples($"blob").as("sync"))
      .collect().map(r => r.getString(0) -> r.isNullAt(1)).toMap
    assert(rows == Map("plain" -> true, "junk" -> true))
  }

  test("mm_video_keyframes: parsed table equals the arithmetic the pack encoded") {
    val got = operators.Multimodal.videoKeyframes(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val want = Tables.documents(spark, sf).select($"doc_id", $"n_chars").collect()
      .map { r =>
        val (id, nc) = (r.getLong(0), r.getLong(1))
        val n = nc % 50 + 10
        val se = id % 7 + 1
        val k = 1 + (n - 1) / se
        id -> (k, 1L, 1 + (k - 1) * se, k + se * (k * (k - 1) / 2))
      }.toMap
    assert(got.nonEmpty && got == want)
  }

  test("embed_outliers: cross-multiplied flag equals the rational dist^2 > 4x mean") {
    val rows = operators.Similarity.outliers(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    val byBatch = rows.groupBy(_._2)
    byBatch.foreach { case (_, rs) =>
      val sum = rs.map(_._3).sum
      val n = rs.length.toLong
      rs.foreach { case (_, _, n2d2, flag) =>
        assert(flag == (n2d2 * n > sum * 4L))
      }
    }
    // a vector AT the centroid can never be an outlier
    assert(rows.filter(_._3 == 0L).forall(!_._4))
  }

  test("stream_funnel equals the batch funnel result") {
    val batch = operators.Telemetry.funnel(spark, sf).collect()
      .map(r => (r.getLong(0), r.get(1), r.get(2), r.get(3))).toSet
    val streamed = graft.streaming.StreamFunnel.streamedFunnel(spark, sf).collect()
      .map(r => (r.getLong(0), r.get(1), r.get(2), r.get(3))).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("stream_funnel: a later-arriving earlier signup retroactively qualifies a purchase") {
    import graft.streaming.StreamFunnel
    // trigger 1: a purchase with NO signup yet — it must pend, not
    // drop; trigger 2: an EARLIER signup arrives, and merging it into
    // the stored election promotes the pended purchase
    val out = twoTriggers(Seq((Option(1L), Option(100L), "purchase")),
        Seq((Option(1L), Option(50L), "signup"))) { ev =>
      StreamFunnel.funnelStream(ev.toDF("user_id", "ts_us", "typ"))
    }.select($"f.*").as[StreamFunnel.FunnelOut].collect().toSeq
    assert(out == Seq(StreamFunnel.FunnelOut(signed = true, Some(50L), Some(100L))))
  }

  test("stream_funnel: merging the folds of any split equals the one-pass fold and the batch rule") {
    import graft.streaming.StreamFunnel.{Election, Ev}
    val rnd = new scala.util.Random(17)
    def fold(es: Seq[Ev]) = es.foldLeft(Election.zero)(Election.reduce)
    (0 until 2000).foreach { i =>
      // small ts domain: ties, duplicates and NULL ts are common
      val evs = Seq.fill(rnd.nextInt(10))(Ev(Option.when(rnd.nextInt(6) > 0)(rnd.nextInt(12).toLong),
        if (rnd.nextBoolean()) "signup" else "purchase"))
      // the batch rule: min signup, then the min purchase at or after it
      val signups = evs.filter(_.typ == "signup")
      val m = signups.flatMap(_.ts_us).minOption
      val p = m.flatMap(s => evs.filter(_.typ == "purchase").flatMap(_.ts_us).filter(_ >= s).minOption)
      val want = Option.when(signups.nonEmpty)((m, p))
      val Seq(x, y) = Seq(rnd.nextInt(evs.size + 1), rnd.nextInt(evs.size + 1)).sorted
      val (a, b, c) = (fold(evs.take(x)), fold(evs.slice(x, y)), fold(evs.drop(y)))
      Seq(fold(rnd.shuffle(evs)), Election.merge(Election.merge(a, b), c),
          Election.merge(c, Election.merge(b, a)), Election.merge(Election.zero, fold(evs)))
        .map(Election.finish).foreach { o =>
          assert(Option.when(o.signed)((o.signup_us, o.purchase_us)) == want, s"case $i: $evs")
        }
    }
  }

  test("events_abtest: power sums reassemble the sequential Welch t exactly") {
    val r = Telemetry.abtest(spark, sf).head()
    val vals = Tables.events(spark, sf).filter($"event_type" === "purchase")
      .select($"user_id", $"value").collect()
      .map(x => (x.getLong(0) % 2 == 0) -> BigDecimal(x.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP))
    val (a, b) = (vals.filter(_._1).map(_._2), vals.filterNot(_._1).map(_._2))
    assert(r.getLong(0) == a.length && r.getLong(1) == b.length)
    val (sumA, sumB) = (a.sum.toDouble, b.sum.toDouble)
    val na = a.length.toDouble
    val nb = b.length.toDouble
    assert(r.getDouble(2) == sumA / na && r.getDouble(3) == sumB / nb)
    val ssA = a.map(x => x * x).sum.toDouble
    val varA = (ssA - sumA * sumA / na) / (na - 1.0)
    assert(r.getDouble(4) == varA)
    assert(!r.getDouble(6).isNaN)
  }

  test("queue_fairness: gini is the rank formula and sits in [0, 1)") {
    val rows = Telemetry.queueFairness(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, s, num, den, g) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(den == n * s)
      assert(g == num.toDouble / den.toDouble)
      assert(g >= 0.0 && g < 1.0)
    }
    // a uniform engineered load has gini exactly 0
    val uni = Seq((1L, "q"), (2L, "q"), (3L, "q"))
      .toDF("user_id", "event_type")
      .groupBy($"event_type", $"user_id").agg(count(lit(1)).as("x"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type").orderBy($"x".asc, $"user_id".asc)
    val gx = uni.withColumn("i", row_number().over(w).cast("long"))
      .groupBy($"event_type")
      .agg(((sum($"i" * $"x") * 2L - (count(lit(1)) + 1L) * sum($"x")).cast("double") /
        (count(lit(1)) * sum($"x")).cast("double")).as("g"))
      .head().getDouble(1)
    assert(gx == 0.0)
  }

  test("ts_xcorr: full pair x lag coverage, r in [-1, 1], gap hours count as zeros") {
    val rows = Telemetry.xcorr(spark, sf).collect()
    val types = Tables.events(spark, sf).select($"event_type").distinct()
      .collect().map(_.getString(0)).sorted
    val nPairs = types.length * (types.length - 1) / 2
    assert(rows.length == nPairs * 4)
    rows.foreach { r =>
      val x = r.getDouble(7)
      assert(x >= -1.0 - 1e-12 && x <= 1.0 + 1e-12)
      // the overlap shrinks by exactly lag hours
      assert(r.getLong(3) == rows.map(_.getLong(3)).max - r.getLong(2))
    }
    // driver-side recompute for one pair at lag 1 over the dense calendar
    val hs = Tables.events(spark, sf)
      .select($"event_type", expr("unix_micros(ts) DIV 3600000000").as("h"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val (lo, hi) = (hs.map(_._2).min, hs.map(_._2).max)
    def series(t: String): Array[Long] = {
      val m = hs.filter(_._1 == t).groupBy(_._2).view.mapValues(_.length.toLong).toMap
      (lo to hi).map(h => m.getOrElse(h, 0L)).toArray
    }
    val (a, b) = (series(types(0)), series(types(1)))
    val n = a.length - 1
    val (xs, ys) = (a.dropRight(1), b.drop(1))
    val (sx, sy) = (xs.sum, ys.sum)
    val num = n * xs.zip(ys).map { case (x, y) => x * y }.sum - sx * sy
    val want = rows.find(r => r.getString(0) == types(0) &&
      r.getString(1) == types(1) && r.getLong(2) == 1L).get
    assert(want.getLong(4) == num)
    assert(want.getLong(3) == n)
  }

  test("events_alerts: debounce emits on quiet gaps only; threshold pushes to the scan") {
    val df = Telemetry.alerts(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // every row is over its stream's threshold
    rows.foreach(r => assert(r.getDouble(3) > r.getLong(4).toDouble))
    // per timeline: first alert emits; later ones emit iff the gap
    // from the PREVIOUS alert exceeds the cooldown
    val cool = 1800L * 1000000L
    rows.groupBy(r => (r.getString(2), r.getLong(1))).foreach { case (_, rs) =>
      val sorted = rs.sortBy(r => (r.getLong(5), r.getLong(0)))
      sorted.zipWithIndex.foreach { case (r, i) =>
        val want = i == 0 || r.getLong(5) - sorted(i - 1).getLong(5) > cool
        assert(r.getBoolean(6) == want)
      }
    }
    // the threshold predicate must reach the parquet scan as a filter
    // below the window exchange (the corpus shrinks BEFORE shuffling)
    val plan = df.queryExecution.executedPlan.toString
    val scanToExchange = plan.split("Exchange").last
    assert(scanToExchange.contains("Filter") || plan.contains("PushedFilters"),
      "no filter below the exchange - the full stream would shuffle")
  }

  test("stream_alerts equals the batch debounce; a cross-batch suppression exists") {
    val batch = Telemetry.alerts(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getBoolean(6)).toMap
    val streamed = graft.streaming.StreamAlerts.streamedAlerts(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getBoolean(6)).toMap
    assert(streamed.nonEmpty && streamed == batch)
    // non-vacuity: some suppressed batch-2 alert depends on batch-1
    // state (its predecessor sits on the other side of the median cut)
    val rows = Telemetry.alerts(spark, sf).collect()
      .map(r => (r.getString(2), r.getLong(1), r.getLong(5), r.getBoolean(6)))
    val cut = {
      val ts = rows.map(_._3)
      (ts.min + ts.max) / 2
    }
    val straddling = rows.groupBy(r => (r._1, r._2)).toSeq.flatMap { case (_, rs) =>
      val sorted = rs.sortBy(_._3)
      sorted.zip(sorted.tail).filter { case (a, b) => a._3 <= cut && b._3 > cut }
    }
    assert(straddling.nonEmpty,
      "no alert pair straddles the staged cut - cross-batch state is never read")
    // where the straddling gap is inside the cooldown, state MUST suppress
    straddling.filter { case (a, b) => b._3 - a._3 <= 1800L * 1000000L }
      .foreach { case (_, b) => assert(!b._4, "cross-batch suppression failed") }
  }

  test("text_topics: full assignment, seeds self-elect in round 1, moved is the delta") {
    val rows = TextAnalysis.topics(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.length == nDocs)
    assert(rows.map(_._2).toSet.subsetOf((0L until 4L).toSet))
    assert(rows.map(_._3).toSet.subsetOf((0L until 4L).toSet))
    // each seed is its own nearest centroid in the first round
    rows.filter(_._1 < 4).foreach { case (id, c1, _, _) => assert(c1 == id) }
    rows.foreach { case (_, c1, c2, moved) => assert(moved == (c1 != c2)) }
    // the TF vectorization must produce a nonzero vector for the corpus
    // (all-zero vectors would collapse every doc onto cluster 0)
    assert(rows.map(_._3).distinct.length > 1, "clustering collapsed to one topic")
  }

  test("bpe merge: greedy left-to-right equals the run-parity rule on engineered runs") {
    val cases = Seq(
      (Seq("a", "a", "a"), "a", "a", Seq("aa", "a")),
      (Seq("a", "a", "a", "a"), "a", "a", Seq("aa", "aa")),
      (Seq("a", "b", "a", "b"), "a", "b", Seq("ab", "ab")),
      (Seq("x", "a", "b", "y"), "a", "b", Seq("x", "ab", "y")),
      (Seq("a", "b"), "b", "a", Seq("a", "b")),
      (Seq("q"), "a", "b", Seq("q")))
    val df = cases.zipWithIndex
      .map { case ((syms, a, b, _), i) => (i, syms, a, b) }
      .toDF("i", "syms", "a", "b")
      .select($"i", graft.plans.Bpe.mergePair($"syms", $"a", $"b").as("out"))
      .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
    cases.zipWithIndex.foreach { case ((_, _, _, want), i) =>
      assert(df(i) == want, s"case $i")
    }
  }

  test("text_bpe_train: the merge trajectory matches a sequential driver recompute") {
    val got = TextAnalysis.bpeTrain(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.length == 3)
    // sequential reference implementation
    var words = Tables.documents(spark, sf)
      .select(explode(split(lower($"text"), "\\s+")).as("w")).collect()
      .map(_.getString(0)).filter(_.matches("^[\\x21-\\x7e]+$"))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
      .map { case (w, f) => (w.toCharArray.map(_.toString).toSeq, f) }.toSeq
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    for (r <- 1L to 3L) {
      val census = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (s, f) =>
        s.zip(s.tail).foreach(p => census(p) = census.getOrElse(p, 0L) + f)
      }
      val ((a, b), n) = census.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
      merges += ((r, a, b, n))
      words = words.map { case (s, f) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < s.length) {
          if (i + 1 < s.length && s(i) == a && s(i + 1) == b) { out += a + b; i += 2 }
          else { out += s(i); i += 1 }
        }
        (out.toSeq, f)
      }
    }
    assert(got.toSeq == merges.toSeq)
  }

  test("text_bpe_encode: fertility shrinks with merges and bounds hold per doc") {
    val rows = TextAnalysis.bpeEncode(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.length == nDocs)
    rows.foreach { case (_, nw, nb, f) =>
      assert(nb >= nw, "a word encodes to >= 1 token")
      assert(f == nb.toDouble / nw.toDouble)
    }
    // three merges must actually compress: total BPE tokens < total chars
    val totalChars = Tables.documents(spark, sf)
      .select(sum(length(regexp_replace(lower($"text"), "\\s+", ""))))
      .head().getLong(0)
    assert(rows.map(_._3).sum < totalChars,
      "encoding must beat the char-level baseline after 3 merges")
  }

  test("scan-once guards: bitmap words and xcorr calendar read checkpoints, not parquet") {
    // the words/calendar checkpoints are the scan-once contract: the
    // final plan must consume them, never re-derive from the parquet
    // scan (a regression here re-scans the corpus per consumer)
    for ((name, df) <- Seq(
        "q_bitmap_audience" -> Relational.qBitmapAudience(spark, sf),
        "ts_xcorr" -> Telemetry.xcorr(spark, sf))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("FileScan parquet") && !plan.contains("Scan parquet"),
        s"$name: final plan re-scans parquet instead of the checkpoint")
    }
  }

  test("graph_modularity: shares sum to <= 1, edge accounting closes, dsq exact") {
    val rows = operators.Dedup.modularity(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    // every edge is internal under the component partition
    val m = rows.map(_._4).sum
    assert(rows.map(_._3).sum == 2 * m, "degree mass must be twice the edges")
    rows.foreach { case (_, nn, ds, ne, dsq, share) =>
      assert(ds == 2 * ne)
      assert(dsq == ds * ds)
      assert(nn >= 2, "a component needs at least one edge = two nodes")
      assert(share == dsq.toDouble / (4L * m * m).toDouble)
    }
    val q = 1.0 - rows.map(_._6).sum
    assert(q >= 0.0 && q < 1.0)
  }

  test("events_dispersion: VMR matches the driver recompute incl. zero hours") {
    val got = Telemetry.dispersion(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6), r.getBoolean(7))).toMap
    assert(got.nonEmpty)
    val hs = Tables.events(spark, sf)
      .select($"event_type", expr("unix_micros(ts) DIV 3600000000").as("h"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val n = hs.map(_._2).max - hs.map(_._2).min + 1
    got.foreach { case (t, (nh, sx, sxx, num, den, vmr, od)) =>
      val xs = hs.filter(_._1 == t).groupBy(_._2).map(_._2.length.toLong)
      assert(nh == n && sx == xs.sum && sxx == xs.map(x => x * x).sum)
      assert(num == n * sxx - sx * sx && den == n * sx)
      assert(vmr == num.toDouble / den.toDouble)
      assert(od == (num > den))
    }
  }

  test("corpus_topic_balance: margins close and the verdict is the integer inequality") {
    val rows = TextAnalysis.topicBalance(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getDouble(7), r.getBoolean(8)))
    // columns: cluster_id, source, n_docs, rc, cs, n_total, dev_num, skew, over_rep
    assert(rows.nonEmpty)
    val nTotal = rows.head._6
    assert(rows.map(_._3).sum == nTotal, "cells must cover every clustered doc")
    // per-cluster cells sum to the row margin
    rows.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._3).sum == rs.head._4)
    }
    rows.foreach { case (_, _, o, rc, cs, nt, dev, skew, over) =>
      assert(dev == o * nt - rc * cs)
      assert(skew == (o * nt).toDouble / (rc * cs).toDouble)
      assert(over == (dev > 0))
    }
  }
}
