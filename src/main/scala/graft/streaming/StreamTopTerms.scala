package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

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
  case class St(counts: Map[String, Long])
  case class Out(term: String, doc_freq: Long)

  /** The stateful core: term→count folds per shard; the sentinel
    * flushes the shard's census slice. */
  def census(rows: Dataset[Tok]): Dataset[Out] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.groupByKey(_.shard)
      .flatMapGroupsWithState[St, Out](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, it, state: GroupState[St]) =>
          var counts = state.getOption.map(_.counts).getOrElse(Map.empty[String, Long])
          var flush = false
          it.foreach { r =>
            if (r.sentinel) flush = true
            else r.term.foreach { t =>
              counts = counts.updated(t, counts.getOrElse(t, 0L) + 1L)
            }
          }
          state.update(St(counts))
          if (flush) counts.iterator.map { case (t, n) => Out(t, n) }
          else Iterator.empty
      }
  }

  def streamedTopTerms(spark: SparkSession, dir: String,
      k: Int = 20, w: Int = 1024): DataFrame = {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, dir)
    val bounds = docs.agg(min($"doc_id"), max($"doc_id")).head()
    if (bounds.isNullAt(0)) return spark.emptyDataFrame
    val cut = (bounds.getLong(0) + bounds.getLong(1)) / 2
    val terms = docs.select($"doc_id",
        explode(array_distinct(TextFns.tokens($"text"))).as("term"))
      .select($"doc_id", $"term",
        pmod(HashFns.polyHash($"term"), lit(Shards.toLong)).as("shard"))
    val sentinels = spark.range(Shards).select(
      $"id".as("shard"), lit(null).cast("string").as("term"),
      lit(true).as("sentinel"))
    val flushed = StreamDedup.runStagedStream(spark, Seq(
        terms.filter($"doc_id" <= cut)
          .select($"shard", $"term", lit(false).as("sentinel")),
        terms.filter($"doc_id" > cut)
          .select($"shard", $"term", lit(false).as("sentinel"))
          .unionByName(sentinels))) { stream =>
      census(stream.as[Tok]).toDF()
    }.getOrElse(return spark.emptyDataFrame)
    graft.operators.TextAnalysis.cmsTopTermsAssembly(
      flushed.select($"term", $"doc_freq"), k, w)
  }
}
