package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{HashFns, TextFns}

/** Streaming twin of [[graft.operators.TextAnalysis.cmsTopTerms]] —
  * the heavy-hitters feed run LIVE: per-term doc-frequency counters
  * as streaming state, sharded by the term's own content hash so the
  * census distributes exactly like the batch groupBy (state per
  * shard is the shard's slice of the VOCABULARY — corpus-bounded,
  * not stream-bounded: the stream_novelty rationale). Tokenize +
  * per-doc distinct run scan-local BEFORE the stateful shuffle, so
  * only (term) increments shard into the state store. Shards flush
  * at the snapshot barrier (a top-k is a population rank); the CMS
  * grid + top-k + estimate lookups run over the flushed census via
  * the batch operator's own
  * [[graft.operators.TextAnalysis.cmsTopTermsAssembly]] — faithful
  * because CMS updates are ADDITIVE (a grid built from (term, df)
  * weights equals one built per occurrence, the identity the batch
  * operator itself exploits). Shares q_cms_topterms' oracle.
  *
  * Gated property: a term whose occurrences split across the doc-id
  * cut must accumulate into one counter.
  */
object StreamTopTerms {

  val Shards = 8

  case class Tok(shard: Long, term: Option[String], sentinel: Boolean)
  case class Out(term: String, doc_freq: Long)

  /** The stateful core: term→count folds per shard; the sentinel
    * flushes the shard's census slice. */
  def census(rows: Dataset[Tok]): Dataset[Out] =
    Staged.atBarrier(rows)(_.shard, _.sentinel)(Map.empty[String, Long]) { (counts, r) =>
      r.term.fold(counts)(t => counts.updated(t, counts.getOrElse(t, 0L) + 1L))
    } { (_, counts) => counts.map { case (t, n) => Out(t, n) } }

  def streamedTopTerms(spark: SparkSession, dir: String,
      k: Int = 20, w: Int = 1024): DataFrame = {
    import spark.implicits._
    def terms(docs: DataFrame): DataFrame = docs
      .select(explode(array_distinct(TextFns.tokens($"text"))).as("term"))
      .select($"term", pmod(HashFns.polyHash($"term"), lit(Shards.toLong)).as("shard"))
    val flushed = Staged.run(spark, Staged.withBarrier[Tok](
        Staged.timeCut(graft.sources.Tables.documents(spark, dir), $"doc_id").map(terms),
        spark.range(Shards).select($"id".as("shard")))) { stream =>
      census(stream.as[Tok]).toDF()
    }
    graft.operators.TextAnalysis.cmsTopTermsAssembly(
      flushed.select($"term", $"doc_freq"), k, w)
  }
}
