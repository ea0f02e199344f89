package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Round 10 (r27 spec file): bounded-heap LSH top-k election parity,
  * 1-bit multi-probe recall, and BM25 ranked retrieval. */
class Round27Spec extends SparkSpec {

  /** sf0.001 embeddings + an exact duplicate of vector 0 (bit-identical
    * cosine ties) + a zero-norm vector (NULL cosine) — the two edges
    * where a heap election could diverge from the window formulation. */
  private lazy val edgeDir: String = {
    import spark.implicits._
    val dir = scratchDir("graft_t27_edges")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val v0 = emb.filter($"vec_id" === 0L).head()
    val extra = Seq(
      (8888L, v0.getAs[Seq[Float]]("embedding").toArray, 0),
      (9999L, Array.fill(64)(0.0f), 0)).toDF("vec_id", "embedding", "label")
    emb.unionByName(extra).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("lshTopK heap election == window formulation on tie/NULL-cosine edges") {
    import spark.implicits._
    val got = graft.operators.Similarity.lshTopK(spark, edgeDir).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getLong(3)))
    // the replaced formulation, rebuilt over the same candidate tier:
    // row_number over (cosine DESC NULLS LAST, neighbor_id ASC)
    val sigs = graft.operators.Similarity.sigBuckets(spark, edgeDir)
    val w = Window.partitionBy($"query_id")
      .orderBy($"cosine".desc, $"neighbor_id".asc)
    val ref = sigs.as("a").join(sigs.as("b"), Seq("sig"))
      .where($"a.vec_id" =!= $"b.vec_id")
      .select($"a.vec_id".as("query_id"), $"b.vec_id".as("neighbor_id"),
        (graft.functions.VecFns.dot($"a.embedding", $"b.embedding") /
          ($"a.nrm" * $"b.nrm")).as("cosine"))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter($"rnk" <= 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getLong(3)))
    assert(got.toSet == ref.toSet,
      s"heap election diverged from the window reference: " +
        s"only-heap=${(got.toSet -- ref.toSet).take(5)} " +
        s"only-window=${(ref.toSet -- got.toSet).take(5)}")
    // the duplicate pair must tie at cosine 1.0 and break by id ASC
    val q0 = got.filter(_._1 == 0L).sortBy(_._4)
    assert(q0.nonEmpty && q0.head._2 == 8888L && q0.head._3.contains(1.0),
      s"vector 0's top neighbor must be its exact duplicate: ${q0.toSeq}")
  }

  test("lshTopK and lshMultiTopK plans are Window-free (bounded-heap election)") {
    val p1 = graft.operators.Similarity.lshTopK(spark, sf)
      .queryExecution.executedPlan.toString
    val p2 = graft.operators.Similarity.lshMultiTopK(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p1.contains("Window"), s"lshTopK must elect via TopKPairs:\n$p1")
    assert(!p2.contains("Window"), s"lshMultiTopK must elect via TopKPairs:\n$p2")
    // and no distinct() materialization of the candidate set either:
    // a distinct() would plan as a grouping-only aggregate
    // (functions=[]) over (query_id, neighbor_id, cosine)
    assert(!p2.contains("functions=[]"),
      s"cross-table dedup must happen inside the heap, not a distinct stage:\n$p2")
    assert(p2.contains("topkpairs"), s"expected the TopKPairs election:\n$p2")
  }

  test("multi-probe OR-construction clears the recall bar at sf0.001") {
    import spark.implicits._
    val r = graft.operators.Similarity.lshMultiRecall(spark, sf)
      .agg(sum($"n_found"), sum($"n_true")).head()
    val recall = r.getLong(0).toDouble / r.getLong(1)
    info(f"lsh_multi_recall@3 sf0.001 = $recall%.3f")
    assert(recall >= 0.8, f"multi-probe recall $recall%.3f below the 0.8 bar")
  }

  test("bm25: engine-exact micros, self-exclusion, deterministic ties") {
    import spark.implicits._
    val dir = scratchDir("graft_t27_bm25")
    val docs = Seq(
      (0L, "apple banana cherry"),   // query doc (0 % 50 == 0)
      (1L, "apple apple date"),
      (2L, "banana banana banana egg"),
      (3L, "cherry fig"),
      (4L, "grape fig egg"),
      (5L, "cherry fig"))            // exact twin of doc 3 → tied score
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextAnalysis.bm25(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4)))
      .sortBy(t => (t._1, t._5))
    // expected scores with the SAME double arithmetic as the plan:
    // contribution = floor(idf * ((tf*2.2)/(tf + 1.2*(0.25+0.75*dl/avgdl))) * 1e6)
    val nDocs = 6.0; val totTokens = 3 + 3 + 4 + 2 + 3 + 2
    val avgdl = totTokens.toDouble / nDocs
    def contrib(df: Long, tf: Long, dl: Long): Long = {
      val idf = (nDocs - df.toDouble + 0.5) / (df.toDouble + 0.5)
      math.floor(idf * ((tf.toDouble * 2.2) /
        (tf.toDouble + 1.2 * (0.25 + 0.75 * (dl.toDouble / avgdl)))) * 1e6).toLong
    }
    // query terms of doc 0 = its 3 rarest: apple(df2) banana(df2) cherry(df3)
    val exp = Seq(
      1L -> contrib(2, 2, 3),       // apple tf=2
      2L -> contrib(2, 3, 4),       // banana tf=3
      3L -> contrib(3, 1, 2),       // cherry tf=1
      5L -> contrib(3, 1, 2))       // cherry twin: identical score
      .sortBy { case (id, s) => (-s, id) }
      .zipWithIndex
      .map { case ((id, s), i) => (0L, id, s, s / 1e6, (i + 1).toLong) }
    assert(got.toSeq == exp,
      s"bm25 mismatch:\n got=${got.toSeq}\n exp=$exp")
    // twin docs 3 and 5 tie on score and must order by doc_id ASC
    val r3 = got.find(_._2 == 3L).get; val r5 = got.find(_._2 == 5L).get
    assert(r3._3 == r5._3 && r3._5 < r5._5, "tie must break by doc_id ASC")
    assert(!got.exists(_._2 == 0L), "a query doc must not retrieve itself")
  }

  test("fully-pruned stop-band: accumulator backstop survives AQE empty-relation collapse") {
    import spark.implicits._
    graft.operators.StopBand.clear()
    // every vector identical -> ONE bucket of 900 > the 800 cap ->
    // rare side empty -> AQE collapses the whole query to an empty
    // relation, discarding the CollectMetrics node — the exact case
    // where the observed audit used to vanish (ADVICE r9)
    val dir = scratchDir("graft_t27_hotall")
    val v = Array.tabulate(64)(i => (i + 1).toFloat)
    (1L to 900L).map(id => (id, v, 0)).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = graft.operators.Similarity.lshTopK(spark, dir).collect()
    assert(out.isEmpty, "every bucket hot -> no candidates survive")
    val drops = graft.operators.StopBand.currentDrops("sig_buckets")
      .filter(_._1 > 0L)
    assert(drops.nonEmpty && drops.exists { case (b, m) => b >= 1L && m >= 900L },
      s"the collapsed plan must still surface the drop: $drops")
  }

  test("dedup_url_stream equals the batch census") {
    // twin vs batch on the real corpus (cross-batch keeper/count/
    // variant cells must reassemble the exact census)
    val batch = graft.operators.Dedup.urlDedup(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val stream = graft.streaming.StreamUrlDedup.streamedUrlDedup(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(stream == batch,
      s"only-stream=${(stream -- batch).take(3)} only-batch=${(batch -- stream).take(3)}")
  }

  test("bm25 plan: bounded-heap election, no Window over the scored join") {
    val plan = graft.operators.TextAnalysis.bm25(spark, sf)
      .queryExecution.executedPlan.toString
    // exactly two window functions remain, both dimension-sized: the
    // per-QUERY-PROFILE rare-term cut (row_number over the
    // profile-level qterms) and the post-expansion self-exclusion
    // re-rank (row_number over |queries|·(k+1) rows); the
    // per-(query, profile) and per-doc elections are heaps
    val windowNodes = "Window \\[".r.findAllIn(plan).length
    assert(windowNodes == 2, s"expected the qterms cut + expansion re-rank:\n$plan")
    assert(plan.contains("topkpairs"),
      s"final election must be the bounded-heap aggregate:\n$plan")
  }
}
