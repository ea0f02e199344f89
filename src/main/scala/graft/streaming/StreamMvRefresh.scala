package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Streaming twin of [[graft.operators.Curation.mvRefresh]] — the
  * materialized view maintained INCREMENTALLY from a live change
  * feed (VERDICT r11 #8: the one user-visible surface left — the
  * corpus_mv_refresh semantics composed with the stream_cdc
  * machinery): delta events (a removal (-1, -bytes), a revision
  * (0, Δbytes), an insert (+1, +bytes)) arrive across micro-batches
  * and fold into per-language state of TWO order-free longs
  * (d_docs, d_bytes) — the mergeable-metrics shape, O(1) per
  * language forever, shuffle ∝ the delta, never the corpus. The
  * view flushes at the snapshot barrier, where one null-safe
  * full-outer merge against the STANDING view (the batch-built
  * table a deployment refreshes on the census cadence) applies the
  * accumulated algebra — identical to the batch operator's merge,
  * so the twin shares corpus_mv_refresh's oracle: the incremental
  * path must be indistinguishable from the full recompute.
  *
  * Gated property: a language whose delta rows straddle the
  * median-doc_id cut must fold into ONE (d_docs, d_bytes)
  * accumulation — lost state ships a stale dashboard aggregate, the
  * exact failure incremental maintenance exists to prevent.
  *
  * Count/sum algebra only, like the batch twin: min/max are not
  * self-maintainable from deltas (a removal can expose a new min
  * only a rescan finds).
  */
object StreamMvRefresh {

  case class Delta(lang: Option[String], d_docs: Option[Long],
      d_bytes: Option[Long], sentinel: Boolean)
  case class St(dDocs: Long, dBytes: Long)
  case class Out(lang: Option[String], d_docs: Long, d_bytes: Long)

  /** The stateful core: per-language delta fold; sentinel flushes the
    * accumulated cell. NULL d_bytes rows (a removed/inserted doc with
    * NULL text) contribute 0 bytes — the batch SUM's skip-null
    * semantics, identical after the merge's coalesce. The flush
    * resets the cell, so a later snapshot barrier for the same key
    * ships the per-interval delta, not cumulative totals (r12
    * ADVICE). */
  def fold(ev: Dataset[Delta]): Dataset[Out] =
    Staged.atBarrier(ev)(_.lang, _.sentinel)(St(0L, 0L)) { (st, e) =>
      St(st.dDocs + e.d_docs.getOrElse(0L), st.dBytes + e.d_bytes.getOrElse(0L))
    } { (lang, st) => Some(Out(lang, st.dDocs, st.dBytes)) }

  def streamedMvRefresh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, dir)
      .select($"doc_id", $"lang",
        octet_length($"text").cast(LongType).as("n_bytes"))
    // the standing view — in a deployment this is the materialized
    // table itself, not a corpus scan; batch-built here like the
    // batch operator builds it
    val baseMv = docs.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_bytes").as("total_bytes"))
    // the same deterministic re-crawl delta classes as the batch
    // operator (and snapshotDiff): every 11th doc removed, every 7th
    // surviving doc revised +7 bytes, every 13th re-discovered
    val delta = docs.filter($"doc_id" % 11 === 0)
      .select($"doc_id", $"lang", lit(-1L).as("d_docs"), (-$"n_bytes").as("d_bytes"))
      // NULL-text revisions contribute 0 bytes — the oracle's
      // `n_bytes + 7` is NULL there and its SUM skips it, and the
      // base view never counted those bytes (r12 ADVICE; mirrors the
      // batch operator)
      .unionByName(docs.filter($"doc_id" % 7 === 0 && $"doc_id" % 11 =!= 0)
        .select($"doc_id", $"lang", lit(0L).as("d_docs"),
          when($"n_bytes".isNotNull, lit(7L)).otherwise(lit(0L)).as("d_bytes")))
      .unionByName(docs.filter($"doc_id" % 13 === 0)
        .select($"doc_id", $"lang", lit(1L).as("d_docs"), $"n_bytes".as("d_bytes")))
    // stage at the median delta doc_id so every language's
    // contributions straddle the cut (the cross-batch fold is the
    // gated property)
    val flushed = Staged.run(spark, Staged.withBarrier[Delta](Staged.timeCut(delta, $"doc_id"),
        delta.select($"lang").distinct())) { stream =>
      fold(stream.as[Delta]).toDF()
    }
    // the batch operator's null-safe full-outer merge, verbatim: the
    // NULL-lang group reconciles like any other (<=>), base-only
    // languages flow through untouched, delta-only languages insert
    baseMv.as("b").join(flushed.as("d"), $"b.lang" <=> $"d.lang", "full_outer")
      .select(coalesce($"b.lang", $"d.lang").as("lang"),
        (coalesce($"n_docs", lit(0L)) + coalesce($"d_docs", lit(0L))).as("n_docs"),
        (coalesce($"total_bytes", lit(0L)) + coalesce($"d_bytes", lit(0L)))
          .as("total_bytes"))
  }
}
