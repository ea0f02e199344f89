package graft

import org.apache.spark.sql.functions._

/** Round 13 (r32 spec file): mv_refresh hardening — the r12 ADVICE
  * burn-down. NULL-text revisions must contribute 0 bytes (matching
  * the oracle's skip-null SUM over `n_bytes + 7`), and the streaming
  * fold must reset its cell at the snapshot barrier so a second
  * barrier ships the per-interval delta, not cumulative totals. */
class Round32Spec extends SparkSpec {

  test("mv_refresh: a NULL-text doc on the revision class contributes 0 bytes (batch == oracle recompute)") {
    import spark.implicits._
    // corpus with a NULL-text doc landing exactly on the divergence
    // class: doc_id % 7 == 0 && % 11 != 0 (the adversarial-corpus
    // shape the r12 ADVICE flagged — unconditional +7 would diverge)
    val docs = Seq(
      (7L, null.asInstanceOf[String], "en", "s", 0L),
      (14L, "fourteen chars..", "en", "s", 16L),
      (11L, "removed doc", "en", "s", 11L),
      (13L, "rediscovered", "de", "s", 12L),
      (3L, "plain survivor", "de", "s", 14L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("mvnull").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // oracle semantics, by hand: merged = survivors (% 11 != 0, % 7
    // revised with n_bytes+7 — NULL for doc 7) ∪ re-discovered (% 13)
    // en: docs 7 (NULL bytes) + 14 (16+7=23) → (2, 23)
    // de: doc 3 (14) + doc 13 (12) + re-discovered 13 (12) → (3, 38)
    val gotPairs = operators.Curation.mvRefresh(spark, dir).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(gotPairs("en") == ((2L, 23L)),
      s"NULL-text revision must add 0 bytes, got ${gotPairs("en")}")
    assert(gotPairs("de") == ((3L, 38L)), s"got ${gotPairs("de")}")
    assert(gotPairs.size == 2)
  }

  test("stream_mv_refresh: a second snapshot keeps its own per-interval delta, not cumulative totals") {
    import graft.streaming.StreamMvRefresh
    import spark.implicits._
    // interval 2 for the same language is a cell of its own
    val out = twoTriggers(Seq((1L, Option("en"), 1L, Option(10L))),
        Seq((2L, Option("en"), 1L, Option(5L)))) { ev =>
      StreamMvRefresh.fold(ev.toDF("snapshot", "lang", "d_docs", "d_bytes"))
    }.as[(Long, Option[String], Long, Long)].collect().toSeq.sorted
    assert(out == Seq((1L, Some("en"), 1L, 10L), (2L, Some("en"), 1L, 5L)),
      s"the second snapshot must ship the interval delta (1,5), got $out")
  }

  test("dedup_stream under census drift: stale profile completes and still equals the batch pair set") {
    import spark.implicits._
    // clone family of 201 docs — ONE past the MaxBucket=200 cap — plus
    // a 2-doc duplicate pair that stays under it. The stale (empty)
    // profile misses the hot buckets entirely, so the stream only
    // discovers them at arrival 201: the r12 behavior was a hard
    // throw; the drift story demotes the bucket, retracts its pairs,
    // and the result must STILL equal the batch operator's stop-band
    // pair set on the true corpus.
    val docs = ((1L to 201L).map(i =>
        (i, "the quick brown fox jumps over the lazy dog again and again", "en", "s", 60L)) ++
      Seq((301L, "a completely different duplicated document body here", "en", "s", 52L),
          (302L, "a completely different duplicated document body here", "en", "s", 52L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("drift").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val streamed = streaming.StreamDedup.streamedDedup(spark, dir,
        staleProfile = Some(Set.empty)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = operators.Dedup.minhashEstimate(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch == Set((301L, 302L, 1.0)), s"batch sanity: $batch")
    assert(streamed == batch,
      s"drifted stream must retract the demoted clone-family pairs, got $streamed")
  }

  test("stream_mv_minmax: a delete exposes the next candidate; deleting out the synopsis flags a rescan") {
    import graft.streaming.StreamMvMinMax
    import StreamMvMinMax.{Ev, Out}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]
    val q = StreamMvMinMax.fold(mem.toDS(), k = 2)
      .writeStream.outputMode("append").format("memory")
      .queryName("mm_out").start()
    try {
      // lang en: seeds {10, 20} (k=2, horizon 20), population 3 (the
      // third doc holds 30, above the horizon). lang de: same seeds,
      // same population.
      def seed(lang: String) = Seq(
        Ev(Some(lang), "seedmin", Some(10L), 1L, 0L, 0L, sentinel = false),
        Ev(Some(lang), "seedmin", Some(20L), 2L, 0L, 0L, sentinel = false),
        Ev(Some(lang), "seedmax", Some(30L), 3L, 0L, 0L, sentinel = false),
        Ev(Some(lang), "seedmax", Some(20L), 2L, 0L, 0L, sentinel = false),
        Ev(Some(lang), "count", None, 0L, 3L, 3L, sentinel = false))
      mem.addData(seed("en") ++ seed("de"): _*)
      // en: delete the min — the NEXT CANDIDATE serves, no rescan.
      // de: delete BOTH candidates — the synopsis empties while live
      // rows remain, so the view must flag rescan-on-expose.
      mem.addData(
        Ev(Some("en"), "del", Some(10L), 1L, 0L, 0L, sentinel = false),
        Ev(Some("de"), "del", Some(10L), 1L, 0L, 0L, sentinel = false),
        Ev(Some("de"), "del", Some(20L), 2L, 0L, 0L, sentinel = false),
        Ev(Some("en"), "flush", None, 0L, 0L, 0L, sentinel = true),
        Ev(Some("de"), "flush", None, 0L, 0L, 0L, sentinel = true))
      q.processAllAvailable()
      val out = spark.table("mm_out").as[Out].collect()
        .map(o => o.lang.get -> o).toMap
      assert(out("en").min_v.contains(20L) && !out("en").exposed_min,
        s"delete of the min must expose the next candidate in-synopsis: ${out("en")}")
      assert(out("en").max_v.contains(30L))
      assert(out("de").min_v.isEmpty && out("de").exposed_min,
        s"deleting out the candidate set with live rows must flag rescan: ${out("de")}")
      // de's max synopsis lost 20 but keeps 30 — no rescan on that side
      assert(out("de").max_v.contains(30L) && !out("de").exposed_max)
    } finally q.stop()
  }

  test("stream_mv_minmax end-to-end: the rescan path equals the full recompute") {
    import spark.implicits._
    // lang xx's K=8 smallest docs all sit on the removal class
    // (doc_id 11..88), so the delta deletes out the entire min
    // synopsis and the view MUST take the rescan-on-expose path;
    // the flushed answer still has to equal the full recompute.
    val docs = ((1 to 9).map(i => (i * 11L, "a" * i, "xx", "s", i.toLong)) ++
      (1 to 5).map(i => (1000L + i, "x" * (50 + i), "xx", "s", 50L + i)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("mmx").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = streaming.StreamMvMinMax.streamedMvMinMax(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // full recompute with the same merged-corpus semantics
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"lang", octet_length($"text").cast("long").as("n_bytes"))
    val merged = base.filter($"doc_id" % 11 =!= 0)
      .select($"lang", when($"doc_id" % 7 === 0, $"n_bytes" + 7L)
        .otherwise($"n_bytes").as("n_bytes"))
      .unionByName(base.filter($"doc_id" % 13 === 0).select($"lang", $"n_bytes"))
    val expect = merged.groupBy($"lang")
      .agg(min($"n_bytes").as("mn"), max($"n_bytes").as("mx")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect, s"rescan path must equal recompute: got $got expect $expect")
  }

  test("probeMasks: radius grows with signature width at the documented steps") {
    import operators.Similarity.probeMasks
    // p=4 (gate SFs): self + 4 single flips only — r10 semantics
    assert(probeMasks(4).length == 5)
    // p=7 (10x): + C(7,2) pair flips
    assert(probeMasks(7).length == 1 + 7 + 21)
    // p=10 (100x width step, r13): + C(10,3) triple flips
    assert(probeMasks(10).length == 1 + 10 + 45 + 120)
    // masks are distinct and within the plane width
    val m = probeMasks(10)
    assert(m.distinct.length == m.length)
    assert(m.forall(x => (x >> 10) == 0L))
    assert(m.count(java.lang.Long.bitCount(_) == 3) == 120)
  }

  test("JoinGate: broadcasts under the session threshold, leaves the shuffled plan above it") {
    import operators.JoinGate
    val dim = spark.range(100).toDF("k")
    val fact = spark.range(10000).toDF("k")
    val small = fact.join(JoinGate.gatedBroadcast(dim, "spec.small"), Seq("k"))
    small.collect()
    assert(small.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "a dimension under the threshold must take the broadcast branch")
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val big = fact.join(JoinGate.gatedBroadcast(dim, "spec.big"), Seq("k"))
      big.collect()
      assert(!big.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "above the threshold the planner must keep the shuffled join")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }
}
