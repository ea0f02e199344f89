package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.StreamDedup

/** Round-4 hardening from the round-3 advisory: checkpoint tracking
  * that cannot capture foreign RDDs, per-call checkpoint lifetimes, and
  * streamed-dedup edge cases (empty corpus, loud hot-bucket cap). */
class Round4Spec extends SparkSpec {
  import spark.implicits._

  test("dedup checkpoint tracking never unpersists a foreign RDD") {
    Dedup.clearLabelCache()
    // an unrelated query's persisted data, alive across the whole
    // clustering run — a getPersistentRDDs diff would capture
    // concurrent persists like this one and the drain would then
    // unpersist someone else's (lineage-truncated) blocks
    val foreign = Seq((1L, "a"), (2L, "b")).toDF("id", "v").persist()
    assert(foreign.count() == 2)
    val foreignIds = spark.sparkContext.getPersistentRDDs.keySet
    val clusters = Dedup.clusters(spark, sf).collect()
    assert(clusters.nonEmpty)
    Dedup.releaseTransientBlocks()
    Dedup.clearLabelCache()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(foreignIds.subsetOf(after),
      "draining the transient blocks must leave foreign persisted RDDs alone")
    assert(foreign.count() == 2, "foreign data must remain readable")
    foreign.unpersist()
  }

  test("streamed dedup on an empty corpus returns an empty pair set") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sdd_empty").toString
    Seq.empty[(Long, String)].toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val out = StreamDedup.streamedDedup(spark, dir)
    assert(out.columns.toSeq == Seq("doc_a", "doc_b", "est_jaccard"))
    assert(out.count() == 0L)
  }

  test("pagerank: integer mass stays bounded, determinism holds, blocks are freed") {
    Dedup.clearLabelCache()
    val before = spark.sparkContext.getPersistentRDDs.size
    val out = Dedup.pagerank(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    // total mass ≤ 1e6 (integer floor division only ever loses mass)
    // and every node keeps at least the damping floor
    val total = out.map(_._2).sum
    assert(total <= 1000000L && total > 0, s"mass $total")
    val n = out.length
    out.foreach { case (id, pr, d) =>
      assert(pr >= 150000L / (10L * n) && d >= 1, s"doc $id pr=$pr deg=$d")
    }
    // the call's persisted residue is its pair checkpoint and its
    // final scores, until the drain frees both
    assert(spark.sparkContext.getPersistentRDDs.size == before + 2)
    Dedup.releaseTransientBlocks()
    assert(spark.sparkContext.getPersistentRDDs.size == before)
    // deterministic across calls
    val again = Dedup.pagerank(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSet == out.toSet)
    Dedup.releaseTransientBlocks()
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }

  test("streamed exact dedup recovers the batch keeper set across batches") {
    val streamed = StreamDedup.streamedExactDedup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = Dedup.exact(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    assert(batch.nonEmpty)
  }

  test("an exact copy arriving in batch 2 is a duplicate of batch 1's keeper") {
    val same = "identical content that appears twice across the batch split"
    val docs = Seq(
      (1L, "first unique document body"),
      (2L, same),                        // batch 1 (ids <= cut = 5)
      (9L, same),                        // batch 2 — must dup against state
      (10L, "final unique document body")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_sxd").toString
    docs.write.parquet(s"$dir/documents.parquet")
    val out = StreamDedup.streamedExactDedup(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(out.contains((2L, 2L)), s"keeper 2 with 2 copies expected; got $out")
  }

  test("streamed dedup prunes hot buckets via the static profile instead of aborting") {
    // 210 identical docs: every band bucket exceeds the 200-doc
    // stop-band. r11 behavior was a designed abort (append-mode LSH
    // can't retract pairs from a bucket discovered hot later); the
    // static hot-bucket profile now prunes those buckets BEFORE the
    // index — the same whole-bucket stop-band the batch tier applies
    // — so the twin completes and matches the batch pair set exactly.
    // A genuine near-dup pair in a COLD bucket must still surface.
    val dir = java.nio.file.Files.createTempDirectory("graft_sdd_hot").toString
    val hot = (1L to 210L).map(i => (i, "same text repeated verbatim in every document"))
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val cold = Seq((300L, base), (301L, base + " ok"))
    (hot ++ cold).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val streamed = StreamDedup.streamedDedup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.operators.Dedup.minhashEstimate(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch,
      s"streamed pair set must equal the batch stop-band's; got ${streamed.size} vs ${batch.size}")
    assert(streamed.contains((300L, 301L)),
      s"cold-bucket near-dup (300,301) must survive the hot-bucket prune; got $streamed")
    assert(!streamed.exists { case (a, b) => a <= 210L && b <= 210L },
      "hot-bucket pairs must be pruned, matching the batch tier")
  }
}
