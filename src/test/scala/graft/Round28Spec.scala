package graft

import org.apache.spark.sql.functions._

/** Round 11 (r28 spec file): free-text BM25 query mode, the --docs
  * NULL-document semantics, and the concurrent-gate accounting. */
class Round28Spec extends SparkSpec {

  test("bm25Query: every hit contains a query term; ranks dense; rare term wins") {
    import spark.implicits._
    val qs = graft.operators.TextAnalysis.DefaultBm25Queries
    val got = graft.operators.TextAnalysis.bm25Query(spark, sf).collect()
    assert(got.nonEmpty, "default queries must retrieve on the test corpus")
    // ranks are 1..n dense per query, scores non-increasing
    got.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      val byRank = rows.sortBy(_.getLong(4))
      assert(byRank.map(_.getLong(4)).toSeq == (1L to byRank.length).toSeq,
        s"query $qid ranks not dense")
      val scores = byRank.map(_.getLong(2)).toSeq
      assert(scores == scores.sorted.reverse, s"query $qid scores not descending")
    }
    // every retrieved doc contains at least one term of its query
    val terms = qs.toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", lower($"text").as("t")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    got.foreach { r =>
      val qterms = terms(r.getLong(0)).split("\\s+")
      val t = docs(r.getLong(1))
      assert(qterms.exists(q => t.split("\\s+").contains(q)),
        s"doc ${r.getLong(1)} matches no term of query ${r.getLong(0)}")
    }
    // 'dup' is the corpus's rarest query term (df ~3% of docs): the
    // "dup stream" query's top hit must actually contain it — the
    // reciprocal-rational idf must dominate the stop-wordy 'stream'
    val dupTop = got.filter(r => r.getLong(0) == 2L && r.getLong(4) == 1L)
    assert(dupTop.nonEmpty)
    assert(docs(dupTop.head.getLong(1)).split("\\s+").contains("dup"),
      "top hit for 'dup stream' must contain the rare term")
  }

  test("bm25Query: vocabulary-absent query yields no rows; param table is the API") {
    val got = graft.operators.TextAnalysis.bm25Query(spark, sf,
      queries = Seq(7L -> "zzzunknown qqqabsent")).collect()
    assert(got.isEmpty, "no known term -> no rows (inner df join)")
    val one = graft.operators.TextAnalysis.bm25Query(spark, sf,
      queries = Seq(3L -> "dup dup dup")).collect()
    // distinct query terms: repeating a word must not change scores
    val ref = graft.operators.TextAnalysis.bm25Query(spark, sf,
      queries = Seq(3L -> "dup")).collect()
    assert(one.map(r => (r.getLong(1), r.getLong(2))).toSet ==
      ref.map(r => (r.getLong(1), r.getLong(2))).toSet,
      "repeated query words must not double-score")
  }

  test("bm25Query plan: bounded-heap election, no Window anywhere") {
    val plan = graft.operators.TextAnalysis.bm25Query(spark, sf)
      .queryExecution.executedPlan.toString
    // unlike bm25's more-like-this mode there is no sample-side term
    // cut: the free-text mode needs ZERO window functions
    val windowNodes = "Window \\[".r.findAllIn(plan).length
    assert(windowNodes == 0, s"free-text mode must be window-free:\n$plan")
    assert(plan.contains("topkpairs"),
      s"final election must be the bounded-heap aggregate:\n$plan")
  }

  test("queue_ttl plan: no UnboundedFollowing frame (corpus-growing partitions)") {
    // event_type is a LOW-cardinality partition key, so its partitions
    // grow with the corpus — a (currentRow, unboundedFollowing) min
    // re-aggregates the tail per row (O(n²) per partition; the 10x
    // stress ground one task 30+ minutes). The running-min respell
    // over the reversed sort must stay: any unboundedfollowing frame
    // reappearing in THIS plan is a scale regression.
    val plan = graft.operators.Telemetry.queueTtl(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("unboundedfollowing"),
      s"queue_ttl must use the reversed-sort running min:\n$plan")
  }

  test("NULL-document semantics: hash-permutation ops exclude, pack keeps at zero") {
    import spark.implicits._
    // a corpus with one NULL-text and one NULL-source doc
    val dir = scratchDir("graft_t28_nulls")
    spark.read.parquet(s"$sf/documents.parquet")
      .unionByName(Seq(
        (900001L, null.asInstanceOf[String], "es", "src0", 0L),
        (900002L, "the fast", "en", null.asInstanceOf[String], 8L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val shard = graft.operators.Curation.corpusShard(spark, dir)
    assert(shard.filter($"doc_id" === 900001L).isEmpty,
      "NULL text has no content hash -> no shard position")
    assert(shard.filter($"doc_id" === 900002L).count() == 1,
      "NULL source does not exclude from the source-free permutation")
    val inter = graft.operators.Curation.interleave(spark, dir)
    assert(inter.filter($"doc_id" === 900001L || $"doc_id" === 900002L).isEmpty,
      "interleave requires BOTH a hash and a source group")
    val pack = graft.operators.Curation.corpusPack(spark, dir)
    val row = pack.filter($"doc_id" === 900001L).collect()
    assert(row.length == 1 && row.head.getAs[Long]("n_tokens") == 0L,
      "pack keeps the NULL-text doc at zero tokens")
    val diff = graft.operators.Curation.snapshotDiff(spark, dir)
      .filter($"doc_id" === 900001L).collect()
    assert(diff.nonEmpty && diff.forall(r =>
        r.getAs[String]("status") == "unchanged" || r.getAs[String]("status") == "removed"),
      s"NULL-byte doc must classify by row presence, got ${diff.map(_.getAs[String]("status")).toSeq}")
  }
}
