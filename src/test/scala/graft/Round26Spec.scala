package graft

import org.apache.spark.sql.functions._

/** Round 9 (r26 spec file): staged-stream repeat calls, degenerate
  * corpora through the streaming twins, and transient-checkpoint
  * hygiene. */
class Round26Spec extends SparkSpec {

  /** Tiny corpus dir with an events table built from `rows`
    * (event_id, user_id, event_type, ts-µs-or-null). */
  private def eventsDir(name: String, rows: Seq[(Long, Long, String, Option[Long])]): String = {
    import spark.implicits._
    val dir = scratchDir(s"graft_t26_$name")
    rows.toDF("event_id", "user_id", "event_type", "ts_us")
      .select($"event_id", $"user_id", $"event_type",
        timestamp_micros($"ts_us").as("ts"), lit(1.0d).as("value"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("stream_uniqueness: all-null ts corpus still produces the 3-row audit") {
    val dir = eventsDir("allnull", Seq(
      (1L, 10L, "a", None), (2L, 10L, "a", None), (1L, 11L, "b", None)))
    val out = graft.streaming.StreamUniqueness.streamedUniqueness(spark, dir)
      .orderBy("key_cols").collect()
    assert(out.length == 3, "audit must keep its 3 candidate-key rows on an all-null-ts corpus")
    val byKey = out.map(r => r.getString(r.fieldIndex("key_cols")) -> r).toMap
    // event_id has a duplicate (1 twice); n_rows counts every row
    assert(byKey("event_id").getLong(1) == 3L)   // n_rows
    assert(byKey("event_id").getLong(3) == 1L)   // n_dup_keys
  }

  test("stream_uniqueness: empty corpus yields zero-count audit with full schema") {
    val dir = eventsDir("empty", Seq.empty)
    val out = graft.streaming.StreamUniqueness.streamedUniqueness(spark, dir)
    assert(out.columns.toSeq == Seq("key_cols", "n_rows", "n_keys",
      "n_dup_keys", "n_surplus_rows", "max_multiplicity"))
    val rows = out.orderBy("key_cols").collect()
    assert(rows.length == 3)
    assert(rows.forall(_.getLong(1) == 0L))
  }

  test("staged stream: repeat calls agree and free their staged input") {
    import spark.implicits._
    def stagedDirs(): Set[String] = {
      val ls = java.nio.file.Files.list(graft.sources.Scratch.root)
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("graft_ckpt_")).toSet
      } finally ls.close()
    }
    val before = stagedDirs()
    val dir = eventsDir("memo", (1L to 20L).map(i => (i, i % 3, "t", Some(i * 1000000L))))
    // same twin twice → each call stages afresh and both agree (no
    // stale or doubled data)
    val a = graft.streaming.StreamUniqueness.streamedUniqueness(spark, dir).collect()
    val b = graft.streaming.StreamUniqueness.streamedUniqueness(spark, dir).collect()
    assert(a.toSet == b.toSet)
    // each run deletes its checkpoint once the query stops: the
    // returned frame reads only the sink
    assert((stagedDirs() -- before).isEmpty, "staged input outlived its run")
    // a DIFFERENT corpus must not see the first corpus's staging
    val dir2 = eventsDir("memo2", (1L to 5L).map(i => (i, i, "t", Some(i * 1000000L))))
    val c = graft.streaming.StreamUniqueness.streamedUniqueness(spark, dir2)
      .agg(sum($"n_rows")).head().getLong(0)
    assert(c == 15L, s"3 candidates x 5 rows = 15, got $c")
  }

  test("multi-table LSH: table 0 equals the single-table signature; recall never drops") {
    import spark.implicits._
    import graft.functions.VecFns
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val planes = graft.operators.Similarity.adaptivePlanes(spark, sf)
    // OR-construction table 0 IS the single-table signature — the
    // multi tier strictly widens the candidate set, never shifts it
    val diff = emb.select(
      VecFns.lshSignature($"embedding", planes).as("s1"),
      VecFns.lshSignatureTable($"embedding", planes, 0).as("s2"))
      .filter($"s1" =!= $"s2").count()
    assert(diff == 0L)
    val single = graft.operators.Similarity.lshRecall(spark, sf)
      .agg(sum($"n_found"), sum($"n_true")).head()
    val multi = graft.operators.Similarity.lshMultiRecall(spark, sf)
      .agg(sum($"n_found"), sum($"n_true")).head()
    val (rs, rm) = (single.getLong(0).toDouble / single.getLong(1),
      multi.getLong(0).toDouble / multi.getLong(1))
    info(f"lsh recall single=$rs%.3f multi=$rm%.3f")
    assert(rm >= rs, "OR-construction can only widen the candidate set")
  }

  test("zero-norm vectors: NULL cosine in-plan, excluded from the knn graph") {
    import spark.implicits._
    import graft.functions.VecFns
    // NULL-norm convention: Spark doubles would give NaN for 0/0
    // where DuckDB gives NULL — the shared convention is NULL
    val row = Seq((Array.fill(64)(0.0f), Array.fill(64)(1.0f)))
      .toDF("z", "u")
      .select(VecFns.cosine($"z", $"u").as("zu"), VecFns.cosine($"u", $"u").as("uu"))
      .head()
    assert(row.isNullAt(0), "cosine with a zero vector must be NULL")
    assert(math.abs(row.getDouble(1) - 1.0) < 1e-12)
    // degenerate corpus: the zero vector must not seat in the graph
    val dir = scratchDir("graft_t26_zv")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val zero = Seq((9999L, Array.fill(64)(0.0f), 0)).toDF("vec_id", "embedding", "label")
    emb.unionByName(zero).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val g = graft.operators.Similarity.knnGraph(spark, dir)
    assert(g.filter($"query_id" === 9999L || $"neighbor_id" === 9999L).count() == 0L,
      "zero-norm vectors carry no direction and must leave the knn graph")
    assert(g.count() > 0L)
  }

  test("stop-band prune on a hot bucket emits a non-zero observed drop metric") {
    import spark.implicits._
    // 250 identical documents share every band key -> one bucket of
    // 250 > the 200 cap -> the prune must drop it AND say so
    val dir = scratchDir("graft_t26_hot")
    val hot = (1L to 250L).map(i => (i, "the same duplicated crawl page body " * 3))
    // two near-identical cold docs keep the FINAL pair set non-empty:
    // AQE's empty-relation propagation would otherwise collapse the
    // whole plan to EmptyRelationExec and discard the metric node with
    // it (a fully-emptied result loses its observed audit — known
    // limitation, documented at GraftSession.deepObservedMetrics)
    val cold = Seq(
      (251L, "a rare survivor pair document body"),
      (252L, "a rare survivor pair document body"))
    (hot ++ cold).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit =
        // the production listener's deep traversal: the census observe
        // sits below an exchange, hidden inside an AQE query stage
        GraftSession.deepObservedMetrics(qe.executedPlan).foreach { case (name, row) =>
          if (name.startsWith("graft_stop_band_"))
            seen.add((name, row.getLong(row.fieldIndex("dropped_buckets"))))
        }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      graft.operators.Dedup.minhashEstimate(spark, dir).count()
      // listener delivery is async — poll briefly
      val deadline = System.nanoTime() + 10_000_000_000L
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      import scala.jdk.CollectionConverters._
      val hits = seen.asScala.filter(_._1.contains("minhash_estimate"))
      assert(hits.nonEmpty, "the stop-band census must publish its observed metric")
      assert(hits.exists(_._2 > 0L),
        s"a 250-member bucket over the 200 cap must report dropped_buckets > 0 (got $hits)")
    } finally spark.listenerManager.unregister(listener)
  }

  test("kcore transient blocks are drained by releaseTransientBlocks") {
    val sc = spark.sparkContext
    graft.operators.Dedup.clearLabelCache()
    val before = sc.getPersistentRDDs.size
    graft.operators.Dedup.kcore(spark, sf).count()
    assert(sc.getPersistentRDDs.size > before,
      "kcore rounds should have live checkpoint blocks before the drain")
    graft.operators.Dedup.releaseTransientBlocks()
    assert(sc.getPersistentRDDs.size == before,
      "drain must free kcore's round checkpoints and its pairs")
  }
}
