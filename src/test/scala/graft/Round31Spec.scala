package graft

import org.apache.spark.sql.functions._

/** Round 12 (r31 spec file): stream_mv_refresh — the materialized
  * view maintained live from the delta feed. */
class Round31Spec extends SparkSpec {

  test("stream_mv_refresh: deltas straddling the cut fold into ONE cell per language") {
    import graft.streaming.StreamMvRefresh
    import spark.implicits._
    // trigger 1: en gets a removal (-1, -40) and a revision (0, +7);
    // trigger 2: en's insert (+1, +90) lands across the cut, and a
    // NULL d_bytes removal contributes 0 bytes (batch SUM skip-null)
    // — en must be ONE cell (-1, +57)
    val out = twoTriggers(
      Seq((0L, Option("en"), -1L, Option(-40L)), (0L, Option("en"), 0L, Option(7L)),
        (0L, None, 1L, Option(12L))),
      Seq((0L, Option("en"), 1L, Option(90L)), (0L, Option("en"), -1L, None))) { ev =>
      StreamMvRefresh.fold(ev.toDF("snapshot", "lang", "d_docs", "d_bytes"))
    }.as[(Long, Option[String], Long, Long)].collect().toSet
    assert(out == Set((0L, Some("en"), -1L, 57L), (0L, None, 1L, 12L)),
      s"cross-batch fold must accumulate one cell per language, got $out")
  }

  test("ObjectHashAggregate fallback threshold is raised (small-buffer aggregates stay hash-based)") {
    // the 128-key default makes every TypedImperativeAggregate plan
    // (TopKPairs elections, KMV/CMS sketches) sort its WHOLE input
    // once a task sees >128 groups — measured at the 100x census as a
    // disk-filling spill (§6). GraftSession pins the raised value.
    assert(spark.conf.get(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == (256 * 1024).toString)
  }

  test("stream_mv_refresh equals the batch corpus_mv_refresh (incremental == recompute)") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
    val batch = canon(operators.Curation.mvRefresh(spark, sf))
    val streamed = canon(streaming.StreamMvRefresh.streamedMvRefresh(spark, sf))
    assert(batch.nonEmpty && streamed == batch,
      "the live-maintained view must be indistinguishable from the recompute")
  }
}
