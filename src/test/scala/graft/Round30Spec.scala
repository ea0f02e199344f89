package graft

import org.apache.spark.sql.functions._

/** Round 12 (r30 spec file): the durable-sink streaming gate, the
  * static hot-bucket profile for dedup_stream, and the adaptive IVF
  * codebook/probe rule. */
class Round30Spec extends SparkSpec {

  test("adaptive IVF rule: cells scale to ~250-member lists, probes log2") {
    import graft.operators.Similarity
    // every test SF stays at the 16/4 shape (sf0.1 embeddings = 2000)
    assert(Similarity.ivfCells(20) == 16 && Similarity.ivfCells(2000) == 16)
    assert(Similarity.ivfProbes(16) == 4)
    // 10x diverse (20k): 80 cells / 7 probes — measured 0.98 recall@5
    // vs 0.74 at the fixed 16/4 (ProbeIvf, /tmp/scale10_div)
    assert(Similarity.ivfCells(20000) == 80)
    assert(Similarity.ivfProbes(80) == 7)
    // 100x (200k): 800 cells / 10 probes — measured 1.00 recall@5
    assert(Similarity.ivfCells(200000) == 800)
    assert(Similarity.ivfProbes(800) == 10)
    // probe rule is exact ceil(log2): powers of two don't over-probe
    assert(Similarity.ivfProbes(128) == 7 && Similarity.ivfProbes(129) == 8)
  }

  test("hot-bucket profile matches the batch stop-band census") {
    import spark.implicits._
    import graft.streaming.StreamDedup
    // 210 clones of one text: its band buckets exceed MaxBucket=200
    // and must ALL be profiled hot; a 2-member family must not be
    val docs = ((1L to 210L).map(i => (i, "clone family text body shared verbatim"))
      ++ Seq((500L, "rare text one of two"), (501L, "rare text one of two")))
      .toDF("doc_id", "text")
    val dir = scratchDir("graft_t30_hot")
    docs.write.parquet(s"$dir/documents.parquet")
    val loaded = graft.sources.Tables.documents(spark, dir).select($"doc_id", $"text")
    val hot = StreamDedup.hotBucketProfile(loaded)
    assert(hot.nonEmpty, "210-clone family must profile hot")
    // every hot bucket really holds > MaxBucket docs per the census
    val census = StreamDedup.bandRows(loaded)
      .groupBy($"band", $"bkey").agg(count(lit(1)).as("bc"))
      .collect().map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
    hot.foreach { bk =>
      assert(census(bk) > StreamDedup.MaxBucket, s"$bk profiled hot at bc=${census(bk)}")
    }
    assert(census.exists { case (bk, bc) => bc <= StreamDedup.MaxBucket && !hot(bk) },
      "cold buckets must stay out of the profile")
  }

  test("staged streaming gate returns a correctly-shaped empty frame on an all-NULL corpus") {
    import spark.implicits._
    // every text NULL -> bandRows drops all rows -> zero micro-batch
    // output; the parquet sink commits no data files, and the
    // explicit-schema read-back must still give the transformed shape
    val docs = Seq((1L, null: String), (2L, null: String)).toDF("doc_id", "text")
    val dir = scratchDir("graft_t30_null")
    docs.write.parquet(s"$dir/documents.parquet")
    val out = graft.streaming.StreamDedup.streamedDedup(spark, dir)
    assert(out.columns.toSeq == Seq("doc_a", "doc_b", "est_jaccard"))
    assert(out.count() == 0L)
  }
}
